package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

import graft.{Bench, SparkEntry}

/** The batch workloads: a fixed set of inventory queries, run through
  * `SparkEntry.queries` and timed around `Bench.exec` (a noop-sink
  * write of every output column), in an order set by the seed. */
final class Batch(spark: SparkSession, trace: Tracer, layers: Layers) {
  import Batch._

  private val inventory = SparkEntry.queries

  /** Writes every query's result under `out`, for the oracle check
    * made after the run; doubles as the workload's warm-up. Returns
    * the queries that failed, with their errors. */
  def checkedPass(queries: Seq[String], dataDir: String, out: Path): Seq[(String, String)] = {
    val oracles = SparkEntry.oracleSql
    java.nio.file.Files.write(out.resolve("oracle_sql.json"),
      Json.obj(queries.map(q => q -> oracles(q)): _*)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    queries.flatMap { q =>
      try {
        inventory(q)(spark, dataDir).write.mode("overwrite")
          .parquet(out.resolve(q).toString)
        None
      } catch { case t: Throwable => Some(q -> t.toString.take(300)) }
    }
  }

  /** One timed pass: per-query seconds, in run order. */
  def pass(queries: Seq[String], dataDir: String, traced: Boolean): Seq[(String, Double)] = {
    val t = if (traced) trace else Batch.off
    t.span("pass") {
      queries.map { q =>
        t.span(moduleOf(q)) {
          val t0 = System.nanoTime()
          val df = t.span("SparkEntry.queries")(inventory(q)(spark, dataDir))
          layers.catalyst.built(df.queryExecution)
          t.span("Bench.exec")(Bench.exec(df))
          q -> (System.nanoTime() - t0) / 1e9
        }
      }
    }
  }
}

object Batch {
  private val off = new Tracer(false, "")

  /** Each workload's queries. The sets are fixed so every seed times
    * the same work; the seed only orders them. They are small so that a
    * run, cold pass included, fits the benchmark's time budget: a pass
    * takes 3-4 s on a 4-core host. */
  val Families: Map[String, Seq[String]] = Map(
    "batch_relational" -> Seq(
      "q07_gap_detect", "q10_equijoin_enrich", "q15_topk_window",
      "q17_tumbling_ohlcv", "q21_json_extract"),
    "batch_neardup" -> Seq("q29_simhash_neardup", "q112_semdedup"))

  val Modules: Seq[(String, Set[String])] = Seq(
    "Relational" -> graft.queries.Relational.queries.keySet,
    "TimeSeries" -> graft.queries.TimeSeries.queries.keySet,
    "Dedup" -> graft.queries.Dedup.queries.keySet,
    "Similarity" -> graft.queries.Similarity.queries.keySet)

  def moduleOf(q: String): String =
    Modules.collectFirst { case (m, qs) if qs(q) => m }.getOrElse("other")

  /** The family's queries in the order the seed sets. */
  def ordered(family: String, seed: Long): Seq[String] = {
    val qs = Families(family)
    val rnd = new java.util.Random(seed)
    val a = qs.toArray
    for (i <- a.indices.reverse) {
      val j = rnd.nextInt(i + 1)
      val x = a(i); a(i) = a(j); a(j) = x
    }
    a.toSeq
  }
}
