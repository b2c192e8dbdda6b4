package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftQuery, SparkEntry, Tables}

/** The two batch workloads: a closed loop with one client that builds each
  * query with `GraftQuery.plan` and materialises it with the noop sink, the
  * timed action of `graft.Bench`. */
object Batch {

  /** The registry sample: every `RegistryStride`-th query of
    * `SparkEntry.all` in registration order, so each module contributes in
    * proportion to its size. The full registry (269 queries, about two
    * minutes a pass on four cores) does not fit one run. */
  val RegistryStride = 38

  /** Heavy queries for the 10x rung: compute-bound there, overhead-bound
    * at the registry's scale. */
  val LadderQueries = Seq("regr_stats", "minhash_pairs")

  /** Passes every run makes at least, so each query has four samples. */
  val MinPasses = 4

  val Tables10 = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def registrySet: Seq[GraftQuery] =
    SparkEntry.all.zipWithIndex.collect { case (q, i) if i % RegistryStride == 0 => q }

  def ladderSet: Seq[GraftQuery] = LadderQueries.map(n =>
    SparkEntry.all.find(_.name == n).getOrElse(sys.error(s"no registry query $n")))

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Order-insensitive content digest: row count, and the exact sum and the
    * xor of a 64-bit hash of each row's JSON form. */
  def digest(df: DataFrame): (Long, String) = {
    val row = to_json(struct(df.columns.map(c => col(s"`${c.replace("`", "``")}`")): _*))
    val r = df.select(xxhash64(row).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")), bit_xor(col("h")))
      .head()
    val s = if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString
    val x = if (r.isNullAt(2)) 0L else r.getLong(2)
    (r.getLong(0), f"$s:$x%016x")
  }

  /** Reads every column of every table once, so the first timed query does
    * not pay a cold scan. */
  def touchTables(spark: SparkSession, dir: String): Unit =
    Tables10.foreach(t => noop(Tables.load(spark, dir, t)))

  def run(spark: SparkSession, trace: Trace, args: Args, set: Seq[GraftQuery],
      dir: String): Map[String, Any] = {
    val failures = mutable.ArrayBuffer.empty[String]
    // Set-up, three times: read every table once.
    val setupReps = (1 to 3).map { rep =>
      trace.span(0, "setup", Map("rep" -> rep))(_ => touchTables(spark, dir))._2
    }
    // Untimed pass: builds each query (training any trained state), runs it
    // once to warm it, and records its digest.
    val digests = mutable.LinkedHashMap.empty[String, Map[String, Any]]
    val (_, warmMs) = trace.span(0, "warm") { _ =>
      set.foreach { q =>
        digests(q.name) =
          try {
            val (rows, d) = digest(q.plan(spark, dir))
            Map("rows" -> rows, "digest" -> d)
          } catch { case e: Throwable =>
            failures += s"${q.name}: ${String.valueOf(e.getMessage).take(200)}"
            Map("error" -> String.valueOf(e.getMessage).take(200))
          }
      }
    }
    // Measured loop: passes in seed-shuffled order until the time is up
    // and at least MinPasses passes are complete.
    val rng = new scala.util.Random(args.seed)
    val samples = mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = trace.nowMs()
    val deadline = t0 + args.seconds * 1000.0
    var pass = 0
    var attempted = 0
    while (pass < MinPasses || trace.nowMs() < deadline) {
      for (q <- rng.shuffle(set) if pass < MinPasses || trace.nowMs() < deadline) {
        attempted += 1
        var buildMs = 0.0
        try {
          val (_, ms) = trace.span(0, "query", Map("query" -> q.name, "pass" -> pass)) { qid =>
            val (df, b) = trace.span(qid, "build", Map("query" -> q.name))(_ => q.plan(spark, dir))
            buildMs = b
            trace.span(qid, "execute", Map("query" -> q.name))(_ => noop(df))
          }
          samples += Map("query" -> q.name, "pass" -> pass, "ms" -> ms, "build_ms" -> buildMs)
        } catch { case e: Throwable =>
          failures += s"${q.name} (pass $pass): ${String.valueOf(e.getMessage).take(200)}"
        }
      }
      pass += 1
    }
    val elapsedMs = trace.nowMs() - t0
    Map(
      "setup_reps_ms" -> setupReps,
      "warm_ms" -> warmMs,
      "queries" -> set.map(_.name),
      "digests" -> digests,
      "samples" -> samples,
      "measured_ms" -> elapsedMs,
      "attempted" -> attempted,
      "failures" -> failures)
  }
}
