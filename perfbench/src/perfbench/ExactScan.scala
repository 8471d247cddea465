package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.datagen.DataGen
import graft.operators.{KnnSearch, VecMetric}

/** exact-scan: brute-force cosine kNN over OpenAI-size vectors, batches
  * alternating unfiltered and filtered by a per-query two-label
  * threshold. Scoring N×Q pairs and the top-k aggregate dominate, so a
  * kernel or fused-scan change shows here most strongly.
  */
final class ExactScan(c: Ctx) extends Workload(c) {
  private val N = 8000
  private val Dim = 1536
  private val BatchQ = 100
  private val K = 10
  private val Sampled = 16

  private var corpus: DataFrame = _
  private var base: DataFrame = _
  private var testRows: Array[(Long, Array[Float], Int, Int)] = _
  private var batches: IndexedSeq[DataFrame] = _
  private val answers = mutable.Map.empty[(Boolean, Long), Seq[Long]]
  private var recallValue = Double.NaN

  private def pairFilter = col("label_0") <= col("t0") && col("label_1") <= col("t1")

  def generate(r: Recorder): Unit = {
    import spark.implicits._
    corpus = DataGen.randomFilter(spark, N, Dim, 50, 2, ctx.seed)
      .select(col("vec_id").as("id"), col("embedding").as("vec"), col("label_0"),
        col("label_1"), col("is_train"))
      .localCheckpoint(true)
    testRows = corpus.filter(!col("is_train")).drop("is_train")
      .as[(Long, Array[Float], Int, Int)].collect()
  }

  /** Brute force builds no index: set-up materialises the scanned
    * relation and the query batches.
    */
  def setup(r: Recorder): Unit = {
    import spark.implicits._
    base = r.phase("build")(corpus.filter(col("is_train")).drop("is_train").localCheckpoint(true))
    batches = testRows.grouped(BatchQ).filter(_.length == BatchQ).map { b =>
      b.toSeq.toDF("query_id", "qvec", "t0", "t1")
    }.toIndexedSeq
  }

  private def search(r: Recorder, b: Int, filtered: Boolean): Unit = {
    val kind = if (filtered) "KnnSearch.bruteForce.filtered" else "KnnSearch.bruteForce"
    val q = batches(b)
    r.op(kind) {
      val df = KnnSearch.bruteForce(base, q, K, VecMetric.Cosine,
        pairFilter = if (filtered) Some(pairFilter) else None)
      val rows = df.select("query_id", "rank", "neighbor_id").collect()
      if (r.traced) {
        val ph = df.queryExecution.tracker.phases.values
        r.note(s"$kind.plan_ms", ph.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum)
      }
      rows
    }.foreach { rows =>
      rows.groupBy(_.getLong(0)).foreach { case (qid, rs) =>
        answers((filtered, qid)) = rs.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq
      }
    }
  }

  val roundsPerSecond = 0.8
  val warmRounds = 2
  def reset(): Unit = answers.clear()

  def round(r: Recorder, i: Int): Unit = {
    search(r, i % batches.size, filtered = false)
    search(r, (i + batches.size / 2) % batches.size, filtered = true)
  }

  def check(): Seq[String] = {
    import spark.implicits._
    val all = base.select("id", "vec", "label_0", "label_1")
      .as[(Long, Array[Float], Int, Int)].collect()
    val byId = testRows.map(t => t._1 -> t).toMap
    val keys = answers.keys.toSeq.sortBy { case (f, q) => (f, q) }
    val picks = Seq(false, true).flatMap { f =>
      val ks = keys.filter(_._1 == f)
      ks.indices.filter(_ % math.max(1, ks.size / Sampled) == 0).take(Sampled).map(ks)
    }
    val results = Oracle.parMap(picks.size) { i =>
      val (f, qid) = picks(i)
      val (_, qv, t0, t1) = byId(qid)
      val exact = Oracle.topK(all.length, K, desc = true,
        j => !f || (all(j)._3 <= t0 && all(j)._4 <= t1),
        j => Oracle.cosine(qv, all(j)._2), j => all(j)._1).toSeq
      (picks(i), exact, answers(picks(i)))
    }
    recallValue = results.map { case (_, e, g) => Oracle.recall(g, e) }.sum / results.length
    results.toSeq.collect { case ((f, q), e, g) if e != g =>
      s"exact-scan query $q (filtered=$f): got ${g.mkString(",")} expected ${e.mkString(",")}"
    }
  }

  def recall: Double = recallValue

  def metrics(r: Recorder, setup: Recorder): Seq[Metric] =
    Seq(r.rate("qps", "queries/s", Seq("KnnSearch.bruteForce"), _ => BatchQ),
      r.rate("filtered_qps", "queries/s", Seq("KnnSearch.bruteForce.filtered"), _ => BatchQ))
      .flatten ++ Seq(Metric("recall_at_10", recallValue, "ratio", Sampled * 2)) ++
      r.latency("KnnSearch.bruteForce", "batch") ++
      r.latency("KnnSearch.bruteForce.filtered", "filtered_batch")

  def datagenRows: Long = N

  /** Pairs reaching the distance kernel per batch. */
  override def layers(r: Recorder): Seq[Metric] = {
    val filtered = batches.take(4).map(q =>
      base.crossJoin(broadcast(q)).filter(pairFilter).count().toDouble)
    Seq(Metric("KnnSearch.bruteForce.pairs_scored", base.count().toDouble * BatchQ, "count"),
      Metric("KnnSearch.bruteForce.filtered.pairs_scored",
        Stats.median(filtered), "count", filtered.size))
  }

  def kernelVectors: DataFrame = base
}
