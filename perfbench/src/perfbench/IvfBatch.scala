package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.datagen.DataGen
import graft.operators.{IvfIndex, MultiVectorCollection, PqIndex, Sq8Index,
  VecMetric, VectorCollection}

/** ivf-batch: IVF batch search over three quantisations, filtered IVF
  * batches, and RRF hybrid search over a four-field multi-vector
  * collection. The time goes to probe selection, eager probe
  * checkpoints, quantised in-cell scans and index builds, none of which
  * exact-scan has.
  */
final class IvfBatch(c: Ctx) extends Workload(c) {
  private val N = 48000
  private val Dim = 64
  private val Nlist = 64
  private val Nprobe = 8
  private val MvN = 12000
  private val MvDim = 32
  private val BatchQ = 800
  private val HybridQ = 150
  private val K = 10
  private val Quants = Seq("none", "sq8", "pq")

  private var base: DataFrame = _
  private var colls: Map[String, VectorCollection] = _
  private var mv: MultiVectorCollection = _
  private var testRows: Array[(Long, Array[Float], Int, Int)] = _
  private var batches: IndexedSeq[DataFrame] = _
  private var hybridBatches: IndexedSeq[DataFrame] = _
  private var indexBytes = 0.0
  private val answers = mutable.Map.empty[(String, Long), Seq[Long]]
  private val filteredRows = mutable.ArrayBuffer.empty[(Long, Long)]
  private val hybridRows = mutable.Map.empty[Long, Seq[Long]]
  private var recalls = Map.empty[String, Double]

  private def pairFilter = col("label_0") <= col("t0") && col("label_1") <= col("t1")

  private val Fields = (0 until 4).map(f => s"field_$f")
  private var mvBase: DataFrame = _

  def generate(r: Recorder): Unit = {
    import spark.implicits._
    val g = DataGen.randomFilter(spark, N, Dim, Nlist, 2, ctx.seed)
      .select(col("vec_id").as("id"), col("embedding").as("vec"), col("label_0"),
        col("label_1"), col("is_train")).localCheckpoint(true)
    base = g.filter(col("is_train")).drop("is_train")
    testRows = g.filter(!col("is_train")).drop("is_train")
      .as[(Long, Array[Float], Int, Int)].collect()
    val mvAll = DataGen.randomMv(spark, MvN, MvDim, ctx.seed)
      .withColumnRenamed("vec_id", "id").localCheckpoint(true)
    mvBase = mvAll.filter(col("is_train")).select(("id" +: Fields).map(col): _*)
    val mvQ = mvAll.filter(!col("is_train")).select(("id" +: Fields).map(col): _*)
      .withColumnRenamed("id", "query_id")
    val mvRows = mvQ.orderBy("query_id").collect()
    batches = testRows.grouped(BatchQ).filter(_.length == BatchQ)
      .map(b => b.toSeq.toDF("query_id", "qvec", "t0", "t1")).toIndexedSeq
    hybridBatches = mvRows.grouped(HybridQ).filter(_.length == HybridQ)
      .map(rows => spark.createDataFrame(rows.toSeq.asJava, mvQ.schema)).toIndexedSeq
  }

  def setup(r: Recorder): Unit = {
    colls = Quants.map { q =>
      q -> new VectorCollection(spark, base, Nlist, Nprobe, VecMetric.Euclidean, q)
    }.toMap
    mv = new MultiVectorCollection(spark, mvBase, Fields)
    val beforeBuild = ctx.persistentIds
    r.phase("build") {
      Quants.foreach(q => r.phase(s"VectorCollection.createIndex.$q")(colls(q).createIndex()))
      r.phase("MultiVectorCollection.createIndex")(mv.createIndex())
    }
    indexBytes = ctx.storageBytes(ctx.persistentIds -- beforeBuild)
  }

  private def batch(r: Recorder, q: String, b: Int): Unit =
    r.op(s"VectorCollection.batchQuery.$q") {
      colls(q).batchQuery(batches(b), K).select("query_id", "rank", "neighbor_id").collect()
    }.foreach(rows => rows.groupBy(_.getLong(0)).foreach { case (qid, rs) =>
      answers((q, qid)) = rs.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq
    })

  private def filtered(r: Recorder, b: Int): Unit =
    r.op("VectorCollection.batchQueryFiltered") {
      colls("none").batchQueryFiltered(batches(b), K, pairFilter)
        .select("query_id", "neighbor_id").collect()
    }.foreach(rows => filteredRows ++= rows.map(x => (x.getLong(0), x.getLong(1))))

  private def hybrid(r: Recorder, b: Int): Unit =
    r.op("MultiVectorCollection.hybridQuery") {
      val df = r.phase("MultiVectorCollection.hybridQuery.build")(
        mv.hybridQuery(hybridBatches(b), K))
      r.phase("MultiVectorCollection.hybridQuery.exec")(
        df.select("query_id", "rank", "neighbor_id").collect())
    }.foreach(rows => rows.groupBy(_.getLong(0)).foreach { case (qid, rs) =>
      hybridRows(qid) = rs.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq
    })

  val roundsPerSecond = 0.25
  val warmRounds = 1
  def reset(): Unit = { answers.clear(); filteredRows.clear(); hybridRows.clear() }

  def round(r: Recorder, i: Int): Unit = {
    Quants.foreach(q => batch(r, q, i % batches.size))
    filtered(r, (i + 1) % batches.size)
    hybrid(r, i % hybridBatches.size)
  }

  def check(): Seq[String] = {
    import spark.implicits._
    val all = base.select("id", "vec", "label_0", "label_1")
      .as[(Long, Array[Float], Int, Int)].collect()
    val byId = all.map(t => t._1 -> t).toMap
    val tests = testRows.map(t => t._1 -> t).toMap
    // recall on every 10th answered query of each quantisation
    val qids = answers.keys.filter(_._1 == "none").map(_._2).toSeq.sorted
    val sample = qids.indices.filter(_ % 10 == 0).map(qids)
    val exact = Oracle.parMap(sample.size) { i =>
      val qv = tests(sample(i))._2
      Oracle.topK(all.length, K, desc = false, _ => true,
        j => Oracle.l2(qv, all(j)._2), j => all(j)._1).toSeq
    }
    recalls = Quants.map { q =>
      q -> sample.indices.map(i => Oracle.recall(answers((q, sample(i))), exact(i))).sum /
        sample.size
    }.toMap
    val badFilter = filteredRows.filterNot { case (qid, id) =>
      val (_, _, t0, t1) = tests(qid)
      byId.get(id).exists(b => b._3 <= t0 && b._4 <= t1)
    }
    val badIds = answers.values.flatten.filterNot(byId.contains)
    val badHybrid = hybridRows.collect { case (q, ids) if ids.size > K || ids.distinct != ids => q }
    Seq(
      if (badFilter.nonEmpty) Some(s"ivf-batch: ${badFilter.size} filtered results break the filter") else None,
      if (badIds.nonEmpty) Some(s"ivf-batch: ${badIds.size} results are not collection ids") else None,
      if (badHybrid.nonEmpty) Some(s"ivf-batch: ${badHybrid.size} hybrid lists malformed") else None,
      if (hybridRows.isEmpty || answers.isEmpty) Some("ivf-batch: no answers recorded") else None
    ).flatten
  }

  def recall: Double = Quants.map(recalls).sum / Quants.size

  def metrics(r: Recorder, setup: Recorder): Seq[Metric] = {
    val build = setup.notes("build.wall_ms")
    Seq(Metric("build_s", Stats.median(build) / 1000.0, "s", build.size)) ++
      Seq(r.rate("qps", "queries/s", Quants.map(q => s"VectorCollection.batchQuery.$q"),
        _ => BatchQ),
        r.rate("filtered_qps", "queries/s", Seq("VectorCollection.batchQueryFiltered"),
          _ => BatchQ),
        r.rate("hybrid_qps", "queries/s", Seq("MultiVectorCollection.hybridQuery"),
          _ => HybridQ)).flatten ++
      Seq(Metric("recall_at_10", recall, "ratio", Quants.size * recallSample),
        Metric("index_mb", indexBytes / 1e6, "MB")) ++
      Quants.flatMap(q => r.latency(s"VectorCollection.batchQuery.$q", s"batch_$q")) ++
      r.latency("VectorCollection.batchQueryFiltered", "filtered_batch") ++
      r.latency("MultiVectorCollection.hybridQuery", "hybrid_batch")
  }

  private def recallSample: Int = answers.keys.count(_._1 == "none") / 10 + 1

  def datagenRows: Long = N.toLong + MvN

  def kernelVectors: DataFrame = base

  /** Direct calls into the index layers on the collection's data. */
  override def layers(r: Recorder): Seq[Metric] = {
    val data = base.select("id", "vec")
    val cents = IvfIndex.sampleCentroids(data, "vec", Nlist)
    r.op("IvfIndex.sampleCentroids")(IvfIndex.sampleCentroids(data, "vec", Nlist))
    r.op("IvfIndex.assign")(IvfIndex.assign(data, "vec", cents).localCheckpoint(true))
    r.op("Sq8Index.train")(Sq8Index.train(data, "vec"))
    r.op("PqIndex.sampleModel")(PqIndex.sampleModel(data, "vec", 8, 16))
    val probed = IvfIndex.probedQueries(batches(0), cents, Nprobe)
    r.op("IvfIndex.probedQueries")(IvfIndex.probedQueries(batches(1), cents, Nprobe))
    val cells = IvfIndex.assign(data, "vec", cents).groupBy("cluster").count()
    val cands = probed.join(cells, "cluster").agg(sum("count")).head().getLong(0)
    Seq(Metric("IvfIndex.candidates_per_query", cands.toDouble / BatchQ, "count", BatchQ)) ++
      Quants.map(q => Metric(s"recall_at_10.$q", recalls(q), "ratio", recallSample))
  }
}
