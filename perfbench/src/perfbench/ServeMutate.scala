package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.datagen.DataGen
import graft.operators.{Mutations, VecMetric, VectorCollection}

/** serve-mutate: single-vector serving beside mutation batches on one
  * labelled collection. Per-call fixed cost dominates (planning, job
  * launch, localCheckpoint, replica refresh), so writes beside reads
  * show any change that moves cost between a mutation and the next
  * query.
  *
  * Each cycle: 26 unfiltered query() calls (the first after a mutation
  * rebuilds the driver-resident replica), 2 filtered query() calls, then
  * one insert, one update and one delete batch of 100 rows. The
  * collection carries a label column, so delete currently fails (see
  * README); it stays in the script and counts as a failed operation.
  */
final class ServeMutate(c: Ctx) extends Workload(c) {
  private val Entities = 30000
  private val Dim = 64
  private val Batch = 100
  private val K = 10
  private val QueriesPerCycle = 26
  private val FilteredPerCycle = 2

  private var coll: VectorCollection = _
  private var data: Array[(Long, Array[Float], Int)] = _
  private var queries: Array[Array[Float]] = _
  private var indexBytes = 0.0
  private var preBuild = Set.empty[Int]
  private var mutations = 0
  private var nextQuery = 0
  private var cycle = 0

  // the benchmark's mirror of acknowledged operations
  private val mirror = mutable.LinkedHashMap.empty[Long, Array[Float]]
  // (acknowledged-mutation count, query index, returned ids)
  private val served = mutable.ArrayBuffer.empty[(Int, Int, Seq[Long])]
  private val log = mutable.ArrayBuffer.empty[(Seq[(Long, Array[Float])], Seq[Long])]
  private var recallValue = Double.NaN

  def generate(r: Recorder): Unit = {
    import spark.implicits._
    val n = math.ceil(Entities / 0.9).toInt
    val all = DataGen.randomFilter(spark, n, Dim, 16, 1, ctx.seed)
      .select(col("vec_id").as("id"), col("embedding").as("vec"), col("label_0"),
        col("is_train"))
      .as[(Long, Array[Float], Int, Boolean)].collect()
    data = all.filter(_._4).map(t => (t._1, t._2, t._3))
    queries = all.filterNot(_._4).map(_._2)
  }

  def setup(r: Recorder): Unit = {
    import spark.implicits._
    val initial = data.toSeq.toDF("id", "vec", "label_0")
    coll = new VectorCollection(spark, initial, 16, 6, VecMetric.Euclidean)
    preBuild = ctx.persistentIds
    r.phase("build")(coll.createIndex())
    indexBytes = ctx.storageBytes(ctx.persistentIds -- preBuild)
    mirror.clear(); served.clear(); log.clear()
    data.foreach(t => mirror(t._1) = t._2)
    mutations = 0
    nextQuery = 0
    cycle = 0
  }

  /** Mutation batch `m`: inserts fresh ids, updates and deletes existing
    * ones from disjoint id ranges, vectors drawn from the query pool with
    * a seeded offset.
    */
  private def batchRows(m: Int, kind: Int): Seq[(Long, Array[Float], Int)] = {
    val rnd = new java.util.Random(ctx.seed * 1000003L + m * 3L + kind)
    (0 until Batch).map { i =>
      val id = kind match {
        case 0 => 10000000L + m.toLong * Batch + i
        case 1 => data((m * Batch + i) % (data.length / 2))._1
        case _ => data(data.length / 2 + (m * Batch + i) % (data.length / 2))._1
      }
      val src = queries(rnd.nextInt(queries.length))
      (id, src.map(x => x + rnd.nextGaussian().toFloat * 0.5f), rnd.nextInt(100))
    }
  }

  private def query(r: Recorder, kind: String): Unit = {
    val qi = nextQuery % queries.length
    nextQuery += 1
    r.op(kind)(coll.query(queries(qi), K)).foreach(ids => served += ((mutations, qi, ids)))
  }

  private def filteredQuery(r: Recorder, i: Int): Unit = {
    val qi = nextQuery % queries.length
    nextQuery += 1
    val cut = 10 + (i * 37) % 80
    r.op("VectorCollection.query.filtered")(
      coll.query(queries(qi), K, Some(col("label_0") < cut)))
  }

  private def mutate(r: Recorder, m: Int): Unit = {
    import spark.implicits._
    val ins = batchRows(m, 0)
    val upd = batchRows(m, 1)
    val del = batchRows(m, 2).map(_._1)
    val insDf = ins.toDF("id", "vec", "label_0")
    val updDf = upd.toDF("id", "vec", "label_0")
    val delDf = del.toDF("id")
    for ((kind, rows, df) <- Seq(("VectorCollection.insert", ins, insDf),
        ("VectorCollection.update", upd, updDf))) {
      if (r.op(kind)(if (kind.endsWith("insert")) coll.insert(df) else coll.update(df))
          .isDefined) {
        rows.foreach(t => mirror(t._1) = t._2)
        log += ((rows.map(t => (t._1, t._2)), Nil))
        mutations += 1
      }
    }
    if (r.op("VectorCollection.delete")(coll.delete(delDf)).isDefined) {
      del.foreach(mirror.remove)
      log += ((Nil, del))
      mutations += 1
    }
  }

  // the first four cycles still run up to 1.4x slower than later ones
  val roundsPerSecond = 0.5
  val warmRounds = 4
  def reset(): Unit = served.clear()

  /** One cycle; mutation batches are numbered across warm-up and script. */
  def round(r: Recorder, i: Int): Unit = {
    query(r, "VectorCollection.query.refresh")
    for (_ <- 1 until QueriesPerCycle) query(r, "VectorCollection.query.resident")
    for (j <- 0 until FilteredPerCycle) filteredQuery(r, i * FilteredPerCycle + j)
    mutate(r, cycle)
    cycle += 1
  }

  def check(): Seq[String] = {
    import spark.implicits._
    val failures = mutable.ArrayBuffer.empty[String]
    // resident query() == 1-row batchQuery on the final state
    for (qi <- Seq(0, 7, 19)) {
      val v = queries(qi)
      val a = coll.query(v, K)
      val b = coll.batchQuery(Seq((0L, v)).toDF("query_id", "qvec"), K)
        .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
      if (a != b) failures += s"serve-mutate: query() ${a.mkString(",")} != batchQuery ${b.mkString(",")}"
    }
    val n = coll.numEntities
    if (n != mirror.size) failures += s"serve-mutate: numEntities $n != mirror ${mirror.size}"
    // replay the acknowledged mutations; every served id must be live
    // then (no deleted id ever returned), and recall is against the
    // exact top-10 of that state
    val state = mutable.LinkedHashMap.empty[Long, Array[Float]]
    data.foreach(t => state(t._1) = t._2)
    var applied = 0
    val recalls = mutable.ArrayBuffer.empty[Double]
    served.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (version, qs) =>
      while (applied < version) {
        val (ups, dels) = log(applied)
        ups.foreach { case (id, v) => state(id) = v }
        dels.foreach(state.remove)
        applied += 1
      }
      val ids = state.keys.toArray
      val vecs = ids.map(state)
      val exact = Oracle.parMap(qs.size) { i =>
        Oracle.topK(ids.length, K, desc = false, _ => true,
          j => Oracle.l2(queries(qs(i)._2), vecs(j)), j => ids(j)).toSeq
      }
      qs.indices.foreach { i =>
        val got = qs(i)._3
        val dead = got.filterNot(state.contains)
        if (dead.nonEmpty) failures += s"serve-mutate: returned ids not live: ${dead.mkString(",")}"
        recalls += Oracle.recall(got, exact(i))
      }
    }
    recallValue = recalls.sum / recalls.size
    failures.toSeq
  }

  def recall: Double = recallValue

  def metrics(r: Recorder, setup: Recorder): Seq[Metric] = {
    val mut = Seq("VectorCollection.insert", "VectorCollection.update")
      .flatMap(k => r.wallMs.getOrElse(k, Nil))
    r.latency("VectorCollection.query.resident", "serve") ++
      r.latency("VectorCollection.query.refresh", "refresh").take(1) ++
      r.latency("VectorCollection.query.filtered", "filtered").take(1) ++
      Seq(Metric("mutation_p50_ms", Stats.median(mut), "ms", mut.size),
        Metric("recall_at_10", recallValue, "ratio", served.size),
        Metric("index_mb", indexBytes / 1e6, "MB"),
        Metric("entities_end", mirror.size.toDouble, "count"))
  }

  def datagenRows: Long = math.ceil(Entities / 0.9).toLong

  def kernelVectors: DataFrame = {
    import spark.implicits._
    data.toSeq.map(t => (t._1, t._2)).toDF("id", "vec")
  }

  /** The storage the collection's calls hold after the script (the RDDs
    * they made since the build began), then direct calls into the
    * mutation layer.
    */
  override def layers(r: Recorder): Seq[Metric] = {
    import spark.implicits._
    val storage = ctx.storageBytes(ctx.persistentIds -- preBuild)
    val base = data.toSeq.toDF("id", "vec", "label_0").localCheckpoint(true)
    val ups = batchRows(0, 1).toDF("id", "vec", "label_0")
    val none = Seq.empty[Long].toDF("id")
    for (_ <- 0 until 3) r.op("Mutations.applyBatch")(
      Mutations.applyBatch(base, ups, none, "id").localCheckpoint(true))
    Seq(Metric("VectorCollection.storage_mb_end", storage / 1e6, "MB"))
  }
}
