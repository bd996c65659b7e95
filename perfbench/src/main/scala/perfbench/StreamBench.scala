package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.streaming.{Event, IdempotentParquetSink, StreamOps}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, max_by, struct}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

/** The stream-causal workload: one seeded event stream fed, in turn, to
  * three per-key maintainers, each written through
  * [[IdempotentParquetSink]] under its own checkpoint:
  *
  *  - `causalTracker`: flatMapGroupsWithState, the default (HDFS-backed) store
  *  - `causalTws`: transformWithState, RocksDB (1 MB block cache)
  *  - `runningAgg`: flatMapGroupsWithState in append mode, one row per event
  *
  * The three run side by side on the one session, each fed the same
  * events: a capacity phase (closed loop: a fixed backlog in fixed-size
  * micro-batches, each chunk added once all three committed the last one)
  * with one stop and restart of all three from their checkpoints at a
  * seeded chunk, then a paced phase (open loop: events due at a fixed
  * rate, added on schedule whether or not the queries keep up). The
  * outputs are then checked against a plain fold of the same events in
  * arrival order. */
object StreamBench {

  /** Sizes of one run. `keys` sets the state size. */
  final case class Plan(keys: Int, capChunks: Int, chunk: Int, pacedSecs: Double)
  object Plan {
    def parse(s: String): Plan = s.split(',') match {
      case Array(k, c, n, p) => Plan(k.toInt, c.toInt, n.toInt, p.toDouble)
      case _ => throw new IllegalArgumentException(s"bad stream plan $s")
    }
  }

  /** The paced phase's rate, events/s per maintainer, well below the
    * capacity of all three; events are added every `TickMs`. */
  private val Rate = 500
  private val TickMs = 20

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** The seeded stream, in arrival order (event_id is the arrival index,
    * the order the maintainers replay within a batch). Keys are drawn
    * Zipf-skewed; about 3% of events arrive out of event-time order and
    * about 2% are re-deliveries of a recent event. */
  def generate(seed: Long, n: Int, keys: Int): Array[Event] = {
    val rnd = new scala.util.Random(seed)
    val cdf = {
      val w = Array.tabulate(keys)(i => 1.0 / math.pow(i + 1, 1.05))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    // key rank → user id, so the hot keys are spread over the id space
    val ids = rnd.shuffle((0L until keys.toLong).toVector).toArray
    val types = Array("view", "click", "purchase", "error")
    val base = 1704067200000000L
    val out = new Array[Event](n)
    for (i <- 0 until n) {
      val r = rnd.nextDouble()
      out(i) =
        if (r < 0.02 && i > 0) {
          val src = out(math.max(0, i - 1 - rnd.nextInt(math.min(i, 1000))))
          src.copy(event_id = i.toLong)
        } else {
          val k = java.util.Arrays.binarySearch(cdf, rnd.nextDouble()) match {
            case p if p >= 0 => p
            case p => math.min(-p - 1, keys - 1)
          }
          val ts = base + i * 1000L - (if (r < 0.05) 1000L * (1 + rnd.nextInt(5000)) else 0L)
          Event(i.toLong, ts, ids(k), types(rnd.nextInt(types.length)),
            rnd.nextInt(1000000) / 100.0)
        }
    }
    out
  }

  /** Final (n_events, n_violations) per key: the causal audit folded
    * over the events in arrival order. */
  def causalFold(events: Array[Event]): Map[Long, (Long, Long)] = {
    val st = mutable.HashMap.empty[Long, (Long, Long, Long)] // max ts, n, violations
    events.foreach { e =>
      val (mx, n, v) = st.getOrElse(e.user_id, (Long.MinValue, 0L, 0L))
      st(e.user_id) = (math.max(mx, e.ts_us), n + 1, v + (if (n > 0 && e.ts_us < mx) 1 else 0))
    }
    st.view.mapValues { case (_, n, v) => (n, v) }.toMap
  }

  private final case class Maintainer(name: String, provider: Option[String],
    mode: String, build: Dataset[Event] => DataFrame)

  def run(spark: SparkSession, seed: Long, plan: Plan, out: String,
          rec: Sink, spans: Option[Spans]): Unit = {
    val nCap = plan.capChunks * plan.chunk
    val nPaced = (Rate * plan.pacedSecs).toInt
    val events = generate(seed, nCap + nPaced, plan.keys)
    val restartAt = 1 + new scala.util.Random(seed * 31 + 7).nextInt(plan.capChunks - 2)
    rec.emit("stream_plan", "keys" -> plan.keys, "cap_events" -> nCap,
      "chunk" -> plan.chunk, "rate" -> Rate, "paced_events" -> nPaced,
      "tick_ms" -> TickMs, "restart_chunk" -> restartAt)
    // The smallest per-instance block cache RocksDB takes. At the full
    // run's size the state (about 0.25 MB of SST) still fits in it.
    spark.conf.set("spark.sql.streaming.stateStore.rocksdb.blockCacheSizeMB", "1")
    val feeds = Seq(
      Maintainer("causalTracker", None, "update", ds => StreamOps.causalTracker(ds).toDF()),
      Maintainer("causalTws", Some(RocksDb), "update", ds => StreamOps.causalTws(ds).toDF()),
      Maintainer("runningAgg", None, "append", ds => StreamOps.runningAgg(ds).toDF()))
      .map(m => new Feed(spark, m, events, out, rec, spans))
    val byName = feeds.map(f => f.m.name -> f).toMap
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        byName.get(e.progress.name).foreach(_.progress(e.progress))
    }
    spark.streams.addListener(listener)
    try {
      feeds.foreach(_.start())
      // capacity: closed loop over a fixed backlog; every chunk goes to
      // all three maintainers, the next once all have committed it.
      // Chunk 0 warms the three queries up and is not counted.
      for (c <- 0 until plan.capChunks) {
        val (from, until) = (c * plan.chunk, (c + 1) * plan.chunk)
        if (c == restartAt) {
          feeds.foreach(_.stop())
          val t0 = Clock.nowUs()
          feeds.foreach(_.start())
          feeds.foreach(_.add(from, until, t0, "restore"))
          feeds.foreach(_.query.processAllAvailable())
          rec.emit("restore", "t0" -> t0, "t1" -> Clock.nowUs())
        } else {
          val t0 = Clock.nowUs()
          feeds.foreach(_.add(from, until, t0, "cap"))
          feeds.foreach(_.query.processAllAvailable())
          rec.emit(if (c == 0) "warm" else "cap", "n" -> feeds.size * plan.chunk,
            "t0" -> t0, "t1" -> Clock.nowUs())
        }
        Heap.checkpoint(rec) // all three idle: the chunk is committed
      }
      // paced: open loop; event j of the phase is due at t0 + j / rate,
      // and is added on schedule whether or not the queries keep up
      val n = events.length - nCap
      val t0 = Clock.nowUs() + 100000L
      def dueUs(j: Int): Long = t0 + (j * 1e6 / Rate).toLong
      rec.emit("paced", "t0" -> t0, "rate" -> Rate, "first" -> nCap, "n" -> n)
      var next = 0
      var tick = 0L
      while (next < n) {
        val waitUs = t0 + tick * TickMs * 1000L - Clock.nowUs()
        if (waitUs > 0) Thread.sleep(waitUs / 1000L, ((waitUs % 1000L) * 1000L).toInt)
        val now = Clock.nowUs()
        var upto = next
        while (upto < n && dueUs(upto) <= now) upto += 1
        if (upto > next) {
          feeds.foreach { f =>
            f.add(nCap + next, nCap + upto, dueUs(next), "paced")
            rec.emit("tick", "m" -> f.m.name, "at_us" -> now,
              "backlog" -> ((nCap + upto).toLong - f.committedEvents))
          }
          next = upto
        }
        tick = math.max(tick + 1, (now - t0) / (TickMs * 1000L) + 1)
      }
      feeds.foreach(_.query.processAllAvailable())
      Heap.checkpoint(rec)
    } finally {
      feeds.foreach(_.stop())
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext) // the last progress events
      spark.streams.removeListener(listener)
      spark.conf.unset(ProviderKey)
    }
    val fold = causalFold(events)
    feeds.foreach(f => check(spark, f.m, f.sink, events, fold, rec))
  }

  /** One maintainer's source, query and sink, and what it has committed. */
  private final class Feed(spark: SparkSession, val m: Maintainer,
                           events: Array[Event], out: String, rec: Sink,
                           spans: Option[Spans]) {
    import spark.implicits._
    // A fixed partition count, as a partitioned log would give: by
    // default each add would become its own input partition, and a
    // micro-batch spanning a hundred paced adds would run a hundred tasks.
    private val ms = MemoryStream[Event](spark, spark.sparkContext.defaultParallelism)
    // events added through each MemoryStream offset (offset = add index)
    private val addedThrough = mutable.ArrayBuffer.empty[Long]
    private val committedOffset = new AtomicLong(-1L)
    private val dir = s"$out/stream/${m.name}"
    val sink = new IdempotentParquetSink(s"$dir/sink")
    var query: StreamingQuery = _

    def committedEvents: Long = committedOffset.get match {
      case -1L => 0L
      case o => addedThrough.synchronized(addedThrough(o.toInt))
    }

    def start(): Unit = {
      m.provider match {
        case Some(p) => spark.conf.set(ProviderKey, p)
        case None => spark.conf.unset(ProviderKey)
      }
      val sc = spark.sparkContext
      // the stream's thread inherits this, so its jobs carry the name
      sc.setLocalProperty(Tracer.QidKey, m.name)
      try query = m.build(ms.toDS()).writeStream.queryName(m.name).outputMode(m.mode)
        .option("checkpointLocation", s"$dir/cp")
        .foreachBatch { (df: DataFrame, id: Long) =>
          spans match {
            case None => sink.write(df, id)
            case Some(s) =>
              val t0 = Clock.nowUs()
              sink.write(df, id)
              val t1 = Clock.nowUs()
              val files = Option(new java.io.File(s"$dir/sink/batch_id=$id").listFiles())
                .map(_.count(_.getName.startsWith("part-"))).getOrElse(0)
              s.add(s.nextId(), -1L, "sink.write", s"${m.name}#$id", t0, t1, Map("files" -> files))
          }
        }.start()
      finally sc.setLocalProperty(Tracer.QidKey, null)
    }

    def stop(): Unit = if (query != null) query.stop()

    def add(from: Int, until: Int, dueUs: Long, phase: String): Unit = {
      val at = Clock.nowUs()
      ms.addData(events.slice(from, until).toSeq)
      val off = addedThrough.synchronized { addedThrough += until.toLong; addedThrough.size - 1 }
      rec.emit("add", "m" -> m.name, "off" -> off, "first" -> from,
        "n" -> (until - from), "due_us" -> dueUs, "at_us" -> at, "phase" -> phase)
    }

    def progress(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit =
      if (p.numInputRows > 0) {
        val recvUs = Clock.nowUs()
        def dur(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        val commitUs = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L +
          dur("triggerExecution") * 1000L
        def off(s: String): Long = Option(s).filter(_ != "null").map(_.trim.toLong).getOrElse(-1L)
        val src = p.sources.head
        val ops = p.stateOperators
        val custom = ops.flatMap(_.customMetrics.asScala)
          .groupMapReduce(_._1)(_._2.longValue)(_ + _)
        val end = off(src.endOffset)
        committedOffset.set(end)
        rec.emit("batch", "m" -> m.name, "batch" -> p.batchId,
          "start_off" -> off(src.startOffset), "end_off" -> end,
          "rows" -> p.numInputRows, "commit_us" -> commitUs, "recv_us" -> recvUs,
          "trigger_ms" -> dur("triggerExecution"), "add_batch_ms" -> dur("addBatch"),
          "planning_ms" -> dur("queryPlanning"), "wal_ms" -> dur("walCommit"),
          "commit_offsets_ms" -> dur("commitOffsets"),
          "state_rows_total" -> ops.map(_.numRowsTotal).sum,
          "state_rows_updated" -> ops.map(_.numRowsUpdated).sum,
          "state_mem_bytes" -> ops.map(_.memoryUsedBytes).sum,
          "state_update_ms" -> ops.map(_.allUpdatesTimeMs).sum,
          "state_commit_ms" -> ops.map(_.commitTimeMs).sum,
          "rocksdb_sst_bytes" -> custom.getOrElse("rocksdbSstFileSize", 0L))
      }
  }

  /** Checks the maintainer's committed output; every event whose result
    * is wrong, missing or duplicated counts as failed. */
  private def check(spark: SparkSession, m: Maintainer,
                    sink: IdempotentParquetSink, events: Array[Event],
                    fold: Map[Long, (Long, Long)], rec: Sink): Unit = {
    val all = sink.readAll(spark)
    val failed = m.name match {
      case "runningAgg" =>
        val rank = new Array[Long](events.length)
        val seen = mutable.HashMap.empty[Long, Long]
        events.foreach { e =>
          val r = seen.getOrElse(e.user_id, 0L) + 1
          seen(e.user_id) = r
          rank(e.event_id.toInt) = r
        }
        val rows = all.select(col("event_id"), col("user_id"), col("running_n")).collect()
        val hits = new Array[Int](events.length)
        var bad = 0L
        rows.foreach { r =>
          val id = r.getLong(0)
          if (id < 0 || id >= events.length) bad += 1
          else if (r.getLong(1) == events(id.toInt).user_id && r.getLong(2) == rank(id.toInt))
            hits(id.toInt) += 1
          else bad += 1
        }
        hits.count(_ != 1).toLong + bad
      case _ =>
        val last = all.groupBy(col("user_id"))
          .agg(max_by(struct(col("n_events"), col("n_violations")), col("batch_id")).as("s"))
          .select(col("user_id"), col("s.n_events"), col("s.n_violations"))
          .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
        val wrongKeys = (fold.keySet ++ last.keySet).filter(k => fold.get(k) != last.get(k))
        wrongKeys.toSeq.map(k => fold.get(k).map(_._1).getOrElse(1L)).sum
    }
    rec.emit("check", "m" -> m.name, "attempted" -> events.length.toLong, "failed" -> failed)
  }
}
