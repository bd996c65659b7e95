package perfbench

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: sets the session up, runs one workload and
  * writes what it measured as JSONL records (`<out>/records.jsonl`).
  * `run.py` launches it, computes the metrics from those records and
  * checks the outputs. Arguments, all `--key value`:
  *
  *  - `workload`: batch-mix or stream-causal
  *  - `seed`, `seconds`, `trace` (0 or 1), `out` (a directory)
  *  - `setups`: how many times to build and warm the session; the first
  *    is the cold one, timed from the entry to `main`
  *  - batch: `data` (the parquet tables), `queries` (comma list, in run order)
  *  - stream: `plan` (keys,capChunks,chunk,pacedSecs)
  */
object Main {
  def main(args: Array[String]): Unit = {
    val entry = Clock.nowUs()
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val out = opt("out")
    new java.io.File(out).mkdirs()
    val rec = new Sink
    val spark = setup(opt("setups").toInt, entry, out, rec)
    val spans = if (opt("trace") == "1") Some(new Spans(rec)) else None
    val tracer = spans.map { s => val t = new Tracer(spark, s); t.install(); t }
    try opt("workload") match {
      case "batch-mix" =>
        Batch.run(spark, opt("queries").split(',').toSeq, opt("data"),
          opt("seconds").toDouble, rec, tracer, spans)
      case "stream-causal" =>
        StreamBench.run(spark, opt("seed").toLong,
          StreamBench.Plan.parse(opt("plan")), out, rec, spans)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally {
      Bus.drain(spark.sparkContext)
      tracer.foreach(_.uninstall())
      rec.emit("mem", "vmhwm_kb" -> vmHwmKb(), "heap_committed" -> Heap.committed)
      rec.writeTo(s"$out/records.jsonl")
      spark.stop()
    }
  }

  /** Builds and warms the session `n` times (stopping all but the last)
    * and records each set-up's two phases. The first starts at `entry`,
    * so it holds the program's class loading and static init; the later
    * ones rebuild in a warm JVM. */
  private def setup(n: Int, entry: Long, out: String, rec: Sink): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors.toString
    var spark: SparkSession = null
    for (i <- 0 until n) {
      if (spark != null) spark.stop()
      val t0 = if (i == 0) entry else Clock.nowUs()
      spark = graft.LocalSession.build(cores)
      val t1 = Clock.nowUs()
      warmup(spark, s"$out/warmup")
      rec.emit("setup", "i" -> i, "t0" -> t0, "t1" -> t1, "t2" -> Clock.nowUs())
    }
    spark
  }

  /** The same neutral warmup `graft.Bench` runs: JIT, codegen, shuffle and
    * the parquet read and write paths, on data no workload reads. */
  private def warmup(spark: SparkSession, dir: String): Unit = {
    spark.range(2000000L).selectExpr("sum(id * 2)", "count(distinct id % 100)").collect()
    spark.range(100L).selectExpr("id", "cast(id % 7 as string) AS s")
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).groupBy("s").count().orderBy("s").collect()
  }

  /** Peak resident set of this JVM; in local mode the driver and the
    * executors share it. With the heap pre-touched, all of the heap is in
    * it, and the rest is the peak of native memory. */
  private def vmHwmKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong
    }.getOrElse(-1L)
    finally src.close()
  }
}
