package perfbench

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** Closed loop, one client: runs the query list pass after pass, in the
  * given order, until `seconds` have elapsed and at least two passes ran.
  * Every pass is checked; `run.py` takes each query's fastest pass.
  *
  * Each query is timed as users pay for it: the builder call
  * (`SparkEntry.queries(name)(spark, data)`, where the graph engines run
  * their rounds) plus one action that materializes every column through
  * the `noop` sink. `.count()` would let Catalyst prune the projections.
  * The row count comes from the same action, through an [[Observation]].
  * Between queries, outside the timed window, the retained heap is
  * measured ([[Heap]]) and the cached state is dropped the way
  * `graft.Bench` does it. */
object Batch {
  def run(spark: SparkSession, names: Seq[String], data: String,
          seconds: Double, rec: Sink, tracer: Option[Tracer],
          spans: Option[Spans]): Unit = {
    val registry = graft.SparkEntry.queries
    val sc = spark.sparkContext
    val end = Clock.nowUs() + (seconds * 1e6).toLong
    var pass = 0
    do {
      names.foreach { name =>
        val qid = s"$name#$pass"
        val qspan = spans.map(_.nextId()).getOrElse(-1L)
        tracer.foreach(_.parents.put(qid, qspan))
        val dup0 = tracer.map(_.dupPersists.get).getOrElse(0L)
        sc.setLocalProperty(Tracer.QidKey, qid)
        val t0 = Clock.nowUs()
        var t1 = -1L
        val rows = Try {
          val df = registry(name)(spark, data)
          t1 = Clock.nowUs()
          val obs = new Observation("rows")
          df.observe(obs, count(lit(1)).as("n"))
            .write.format("noop").mode("overwrite").save()
          obs.get("n").asInstanceOf[Long]
        }
        val t2 = Clock.nowUs()
        if (t1 < 0) t1 = t2
        Heap.checkpoint(rec) // the query's cached state is still held
        val (rdds, bytes) = tracer.map(_ => Tracer.cacheSnapshot(spark)).getOrElse((0, 0L))
        val ts = Clock.nowUs()
        spark.catalog.clearCache()
        graft.Graft.sweepRddBlocks(spark)
        val t3 = Clock.nowUs()
        sc.setLocalProperty(Tracer.QidKey, null)
        spans.foreach { s =>
          s.add(qspan, -1L, "query", qid, t0, t2)
          s.add(s.nextId(), qspan, "queries.build", qid, t0, t1)
          s.add(s.nextId(), qspan, "action", qid, t1, t2)
          s.add(s.nextId(), qspan, "cache.sweep", qid, ts, t3,
            Map("persisted_rdds" -> rdds, "persisted_bytes" -> bytes,
              "dup_persists" -> (tracer.get.dupPersists.get - dup0)))
        }
        val (ok, n, err) = rows match {
          case Success(v) => (true, v, "")
          case Failure(e) =>
            System.err.println(s"[perfbench] $name failed: $e")
            (false, -1L, s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
        }
        rec.emit("query", "name" -> name, "pass" -> pass, "t0" -> t0,
          "t1" -> t1, "t2" -> t2, "ok" -> ok, "rows" -> n, "err" -> err)
      }
      pass += 1
    } while (pass < 2 || Clock.nowUs() < end)
  }
}
