package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.functions._

import graft.datagen.DataGen
import graft.operators.Dedup

/** dedup-corpus: the LLM-pipeline surface. Generated docs with planted
  * near-duplicates run through shingling, MinHash LSH with exact
  * verification, and connected components. No vector workload touches
  * text kernels, the band self-join or the driver union-find.
  */
final class DedupCorpus(c: Ctx) extends Workload(c) {
  private val Docs = 20000
  private val Tau = 0.5
  private val Bands = 16
  private val RowsPerBand = 4

  private var corpus: DocGen.Corpus = _
  private var docs: DataFrame = _
  private var keep = Set.empty[Int]
  private var pairs: Array[(Long, Long)] = _
  private var comps: Map[Long, Long] = _
  private val passComponents = mutable.ArrayBuffer.empty[Map[Long, Long]]
  private val passMs = mutable.ArrayBuffer.empty[Double]
  private var recallValue = Double.NaN

  def generate(r: Recorder): Unit = corpus = DocGen.corpus(Docs, ctx.seed)

  /** No index to build: set-up checkpoints the docs relation. */
  def setup(r: Recorder): Unit = {
    import spark.implicits._
    docs = r.phase("build")(corpus.docs.toSeq.toDF("doc_id", "text")
      .repartition(ctx.cores).localCheckpoint(true))
    keep = ctx.persistentIds
  }

  /** One full pipeline pass; every stage's result is materialised before
    * the next stage is called.
    */
  private def pass(r: Recorder): Unit = {
    val t = System.nanoTime()
    val sh = r.op("Dedup.shingles") {
      val s = Dedup.shingles(docs).cache()
      s.count()
      s
    }
    val verified = sh.flatMap(s => r.op("Dedup.minhashLshOf")(
      Dedup.minhashLshOf(s, Tau, Bands, RowsPerBand).localCheckpoint(true)))
    val cc = verified.flatMap(p => r.op("Dedup.connectedComponents")(
      Dedup.connectedComponents(p).collect()))
    passMs += (System.nanoTime() - t) / 1e6
    cc.foreach(rows => passComponents += rows.map(x => x.getLong(0) -> x.getLong(1)).toMap)
    verified.foreach(p => pairs = p.collect().map(x => (x.getLong(0), x.getLong(1))))
    ctx.unpersistAll(keep)
  }

  val roundsPerSecond = 0.4
  val warmRounds = 2
  def reset(): Unit = { passMs.clear(); passComponents.clear() }
  def round(r: Recorder, i: Int): Unit = pass(r)

  def check(): Seq[String] = {
    val failures = mutable.ArrayBuffer.empty[String]
    if (passComponents.isEmpty) return Seq("dedup-corpus: no pass completed")
    comps = passComponents.last
    if (passComponents.exists(_ != comps))
      failures += "dedup-corpus: passes disagree on the components"
    // components: each label is the smallest member of its component
    val members = comps.groupBy(_._2)
    members.foreach { case (label, ms) =>
      if (ms.keys.min != label) failures += s"dedup-corpus: component $label has smaller member ${ms.keys.min}"
    }
    // verified pairs really clear the Jaccard threshold
    val text = corpus.docs.toMap
    val below = pairs.count { case (a, b) =>
      DocGen.jaccard(DocGen.shingles(text(a)), DocGen.shingles(text(b))) < Tau
    }
    if (below > 0) failures += s"dedup-corpus: $below verified pairs below tau $Tau"
    // planted tally: recovered pairs must share a component
    val found = corpus.planted.count { case (a, b) =>
      comps.get(a).exists(l => comps.get(b).contains(l))
    }
    recallValue = found.toDouble / corpus.planted.length
    if (recallValue < 0.9)
      failures += s"dedup-corpus: only $found of ${corpus.planted.length} planted pairs found"
    failures.toSeq
  }

  def recall: Double = recallValue

  def metrics(r: Recorder, setup: Recorder): Seq[Metric] =
    Seq(Metric("docs_per_s", Docs / (Stats.median(passMs) / 1000.0), "docs/s", passMs.size),
      Metric("dup_recall", recallValue, "ratio", corpus.planted.length),
      Metric("pass_p50_ms", Stats.median(passMs), "ms", passMs.size),
      Metric("verified_pairs", pairs.length.toDouble, "count"),
      Metric("components", comps.values.toSet.size.toDouble, "count"))

  def datagenRows: Long = Docs

  def kernelVectors: DataFrame =
    DataGen.randomFloat(spark, 8000, 64, 16, ctx.seed)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))

  /** Candidates against verified pairs (useful / attempted) of one direct
    * `minhashLshOf` call. The candidate count is the output row count of
    * the call's own distinct (doc_a, doc_b) aggregate, read from its
    * executed plan; both figures are left out when the plan has none.
    */
  override def layers(r: Recorder): Seq[Metric] = {
    val sh = Dedup.shingles(docs).cache()
    val lsh = Dedup.minhashLshOf(sh, Tau, Bands, RowsPerBand)
    val verified = lsh.collect().length
    val cands = PlanRows.distinctRows(lsh, Seq("doc_a", "doc_b"))
    sh.unpersist()
    Metric("Dedup.minhashLshOf.verified_pairs", verified.toDouble, "count") +:
      cands.toSeq.flatMap(c => Seq(
        Metric("Dedup.minhashLshOf.candidate_pairs", c.toDouble, "count"),
        Metric("Dedup.minhashLshOf.useful_share",
          if (c == 0) 0.0 else verified / c.toDouble, "ratio")))
  }
}

/** Row counts read from the SQL metrics of an executed plan. */
object PlanRows extends AdaptiveSparkPlanHelper {
  /** Output rows of the topmost aggregate that groups on exactly `keys`
    * and computes nothing (a distinct), after `df` has run.
    */
  def distinctRows(df: DataFrame, keys: Seq[String]): Option[Long] =
    collect(df.queryExecution.executedPlan) {
      case a: BaseAggregateExec if a.aggregateExpressions.isEmpty &&
          a.groupingExpressions.map(_.name) == keys => a
    }.headOption.flatMap(_.metrics.get("numOutputRows")).map(_.value)
}
