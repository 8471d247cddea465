package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{collect_topk, minhash_sigs, pq_adc, sq8_l2, token_hashes,
  vec_cosine_sim, vec_l2}
import graft.operators.{Dedup, PqIndex, Sq8Index}

/** Kernel cost probes for the traced run. Each kernel is summed over a
  * checkpointed block cross-joined with a broadcast query block (the
  * shape the scans run in), and a baseline that touches the same arrays
  * without the kernel is subtracted. Reported per row·dim ("rd"), per
  * scored row, or per input token.
  */
object Kernels {
  val Names = Seq("functions.vec_cosine_sim.ns_per_rd", "functions.vec_l2.ns_per_rd",
    "functions.sq8_l2.ns_per_rd", "functions.pq_adc.ns_per_row",
    "functions.collect_topk.ns_per_row", "functions.minhash_sigs.ns_per_token")

  private val BlockRows = 8000
  private val TargetRd = 60e6
  private val TargetRows = 1.5e6
  private val TargetTokens = 1e6
  private val Repeats = 3

  /** Median over repeats of (kernel - baseline) wall, in ms; one warm-up
    * pair first, then the two alternate. Each execution plans a fresh
    * DataFrame: re-collecting one would reuse its materialised AQE stages.
    */
  private def diffMs(rec: Recorder, name: String, kernel: => DataFrame,
      baseline: => DataFrame): Double = rec.phase(s"$name.probe") {
    def t(df: DataFrame): Double = {
      val s = System.nanoTime(); df.collect(); (System.nanoTime() - s) / 1e6
    }
    t(kernel); t(baseline)
    val kb = (1 to Repeats).map { i =>
      if (i % 2 == 0) { val b = t(baseline); (t(kernel), b) }
      else { val k = t(kernel); (k, t(baseline)) }
    }
    kb.foreach { case (k, b) => rec.note(s"$name.kernel_ms", k); rec.note(s"$name.baseline_ms", b) }
    Stats.median(kb.map { case (k, b) => k - b })
  }

  /** `vectors`: (id, vec array<float>). */
  def measure(spark: SparkSession, vectors: DataFrame, seed: Long,
      rec: Recorder): Seq[Metric] = {
    import spark.implicits._
    val block = vectors.select("id", "vec").orderBy("id").limit(BlockRows)
      .localCheckpoint(true)
    val dim = block.select(size(col("vec"))).head().getInt(0)
    val n = block.count()
    val sqm = Sq8Index.train(block, "vec")
    val pqm = PqIndex.sampleModel(block, "vec", 8, 16)
    val coded = block
      .withColumn("sq", Sq8Index.encode(col("vec"), sqm))
      .withColumn("pq", PqIndex.encode(col("vec"), pqm))
      .localCheckpoint(true)
    // query blocks sized so each probe does a fixed amount of kernel work
    def queries(nq: Int): DataFrame = block.limit(nq)
      .select(col("id").as("query_id"), reverse(col("vec")).as("qvec"))
      .withColumn("tbl", PqIndex.distTable(col("qvec"), pqm))
      .localCheckpoint(true)
    val nqRd = math.max(1, math.ceil(TargetRd / (n * dim)).toInt)
    val nqRow = math.max(1, math.ceil(TargetRows / n).toInt)
    val pairs = coded.crossJoin(broadcast(queries(nqRd)))
    val rowPairs = coded.crossJoin(broadcast(queries(nqRow)))
    def total(c: Column): DataFrame = pairs.select(sum(c))
    val both = size(col("vec")) + size(col("qvec"))
    def perRd(ms: Double): Double = ms * 1e6 / (n * nqRd * dim)
    def perRow(ms: Double): Double = ms * 1e6 / (n * nqRow)

    val cos = diffMs(rec, "functions.vec_cosine_sim",
      total(vec_cosine_sim(col("qvec"), col("vec"))), total(both))
    val l2 = diffMs(rec, "functions.vec_l2", total(vec_l2(col("qvec"), col("vec"))),
      total(both))
    val sq8 = diffMs(rec, "functions.sq8_l2",
      total(sq8_l2(col("qvec"), col("sq"), sqm.mins, sqm.scales)),
      total(size(col("sq")) + size(col("qvec"))))
    val pq = diffMs(rec, "functions.pq_adc",
      rowPairs.select(sum(pq_adc(col("pq"), col("tbl")))),
      rowPairs.select(sum(size(col("pq")) + size(col("tbl")))))
    val scored = rowPairs.select(col("query_id"), col("id"),
      xxhash64(col("id"), col("query_id")).cast("double").as("s"))
    val topk = diffMs(rec, "functions.collect_topk",
      scored.groupBy("query_id").agg(collect_topk(col("s"), col("id"), 10, true).as("t"))
        .select(sum(size(col("t")))),
      scored.groupBy("query_id").agg(max(col("s")).as("t")).select(sum(col("t"))))

    val docs = DocGen.corpus(4000, seed).docs.toSeq.toDF("doc_id", "text")
    val once = Dedup.shingles(docs).select(token_hashes(col("sh")).as("th"))
      .localCheckpoint(true)
    val perCopy = once.select(sum(size(col("th")))).head().getLong(0)
    val copies = math.max(1L, math.ceil(TargetTokens / perCopy).toLong)
    val hashes = once.crossJoin(spark.range(copies)).select("th")
    val tokens = perCopy * copies
    val mh = diffMs(rec, "functions.minhash_sigs",
      hashes.select(sum(size(minhash_sigs(col("th"), 64, 42L)))),
      hashes.select(sum(size(col("th")))))

    Seq(Metric(Names(0), perRd(cos), "ns/rd", Repeats),
      Metric(Names(1), perRd(l2), "ns/rd", Repeats),
      Metric(Names(2), perRd(sq8), "ns/rd", Repeats),
      Metric(Names(3), perRow(pq), "ns/row", Repeats),
      Metric(Names(4), perRow(topk), "ns/row", Repeats),
      Metric(Names(5), mh * 1e6 / tokens, "ns/token", Repeats))
  }
}
