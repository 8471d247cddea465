package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import graft.GraftSession

/** What every workload sees: the session, the seed and the run shape. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int,
    cores: Int, traced: Boolean) {
  /** Script length: a fixed count of rounds per requested second. Never
    * derived from elapsed time, so one seed always runs one script.
    */
  def rounds(perSecond: Double): Int =
    math.max(2, math.round(seconds * perSecond).toInt)

  /** Drop every cached or checkpointed block (between set-up repeats). */
  def unpersistAll(keep: Set[Int] = Set.empty): Unit = {
    spark.sparkContext.getPersistentRDDs
      .foreach { case (id, r) => if (!keep(id)) r.unpersist(blocking = true) }
  }

  /** Block-manager bytes (memory + disk) of the given RDDs. */
  def storageBytes(ids: Set[Int]): Double =
    spark.sparkContext.getRDDStorageInfo.filter(i => ids(i.id))
      .map(i => (i.memSize + i.diskSize).toDouble).sum

  def persistentIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
}

/** A workload: set-up that can be repeated, a fixed operation script,
  * correctness checks after it, and the metrics it reports.
  */
abstract class Workload(val ctx: Ctx) {
  val spark: SparkSession = ctx.spark

  /** Generate the inputs from the seed and checkpoint the corpus (once). */
  def generate(r: Recorder): Unit
  /** Build what the script reads from the generated corpus; repeated,
    * the last repeat's state is kept.
    */
  def setup(r: Recorder): Unit
  /** Script rounds per requested second, and untimed warm-up rounds
    * (enough for the JIT to settle, so the script measures steady state).
    */
  def roundsPerSecond: Double
  def warmRounds: Int
  /** Forget the answers recorded by earlier rounds. */
  def reset(): Unit
  /** One round of the script; `i` picks its inputs. */
  def round(r: Recorder, i: Int): Unit
  /** Correctness failures found after the script (empty when correct). */
  def check(): Seq[String]
  /** The workload's end-to-end metrics, after `check`. */
  def metrics(r: Recorder, setup: Recorder): Seq[Metric]
  /** Share of true answers returned, for the result line. */
  def recall: Double
  /** Rows generated by one set-up. */
  def datagenRows: Long
  /** Vectors (`vec`, array<float>) the kernel probes run over. */
  def kernelVectors: DataFrame
  /** Direct layer calls made only in the traced run. */
  def layers(r: Recorder): Seq[Metric] = Nil
}

object Main {
  val SetupRepeats = 3

  def main(argv: Array[String]): Unit =
    try run(argv)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(2) // no record is written, so the launcher reports the failure
    }

  private def run(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val traced = a("trace") == "1"
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val s0 = System.currentTimeMillis()
    val spark = GraftSession.create(master = s"local[${a("cores")}]",
      appName = "perfbench")
    val sessionMs = (System.currentTimeMillis() - s0).toDouble
    val listener = if (traced) Some(new JobTrace) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val ctx = Ctx(spark, a("seed").toLong, a("seconds").toInt, a("cores").toInt,
      traced)
    val w: Workload = a("workload") match {
      case "exact-scan"   => new ExactScan(ctx)
      case "ivf-batch"    => new IvfBatch(ctx)
      case "serve-mutate" => new ServeMutate(ctx)
      case "dedup-corpus" => new DedupCorpus(ctx)
    }

    val setupRec = new Recorder(spark, traced)
    def seconds(body: => Unit): Double = {
      val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9
    }
    val sessionS = (s0 - jvmStart + sessionMs) / 1000.0
    val genS = seconds(setupRec.phase("datagen")(w.generate(setupRec)))
    val generated = ctx.persistentIds
    val repS = (1 to SetupRepeats).map { i =>
      if (i > 1) ctx.unpersistAll(generated)
      seconds(setupRec.phase("setup")(w.setup(setupRec)))
    }
    val warm = new Recorder(spark, traced = false)
    val warmS = seconds((0 until w.warmRounds).foreach(i => w.round(warm, i)))
    val setupS = sessionS + genS + Stats.median(repS) + warmS

    val rec = new Recorder(spark, traced)
    w.reset()
    val scriptS = seconds((0 until ctx.rounds(w.roundsPerSecond)).foreach(i => w.round(rec, i)))
    spark.sparkContext.clearJobGroup()

    var failures = Seq.empty[String]
    val checkS = seconds { failures = w.check() }
    val e2e = Seq(
      Metric("setup_s", setupS, "s", SetupRepeats),
      Metric("ops_per_s", rec.totalAttempted / scriptS, "ops/s", rec.totalAttempted),
      Metric("recall", w.recall, "ratio"))
    val detail = w.metrics(rec, setupRec) ++ Seq(
      Metric("script_s", scriptS, "s"),
      Metric("setup.session_s", sessionS, "s"),
      Metric("setup.datagen_s", genS, "s"),
      Metric("setup.repeat_s", Stats.median(repS), "s", repS.size),
      Metric("setup.warmup_s", warmS, "s"),
      Metric("check_s", checkS, "s")) ++ kindWall(rec)

    val layerRec = new Recorder(spark, traced)
    val layerMetrics = if (!traced) Nil else {
      val extra = w.layers(layerRec)
      val kernels = Kernels.measure(spark, w.kernelVectors, ctx.seed, layerRec)
      listener.get.drain()
      def topOps(r: Recorder) = r.spans.filter(s => r.opKind.contains(s.id) && s.parent.isEmpty)
      val script = topOps(rec).toSeq
      val all = script ++ topOps(layerRec).toSeq
      val kindOf = rec.opKind ++ layerRec.opKind
      val per = listener.get.perOp(all)
      val sparkMetrics = SparkKeys.map { k =>
        Metric(s"spark.$k", script.map(o => per(o.id)(k)).sum / script.size,
          SparkUnits(k), script.size)
      }
      // the same figures per operation kind, for the run record
      val byKind = all.groupBy(o => kindOf(o.id)).toSeq.flatMap { case (kind, os) =>
        SparkKeys.map(k => Metric(s"$kind.$k",
          Stats.median(os.map(o => per(o.id)(k))), SparkUnits(k), os.size))
      }
      Seq(Metric("session.create_ms", sessionMs, "ms"),
        Metric("datagen.gen_ms", genS * 1000, "ms"),
        Metric("datagen.rows", w.datagenRows.toDouble, "count")) ++
        kernels ++ sparkMetrics ++ extra ++ byKind ++ kindWall(layerRec) ++
        noteMetrics(rec) ++ noteMetrics(layerRec) ++ noteMetrics(setupRec)
    }

    val perLayer = layerMetrics.filter(m => PerLayerKeys(m.name))
    val resultMetrics = if (traced) perLayer else e2e
    val result = Map(
      "correct" -> failures.isEmpty,
      "attempted" -> rec.totalAttempted,
      "failed" -> rec.totalFailed,
      "metrics" -> resultMetrics.map(m =>
        m.name -> Map("value" -> finite(m.value), "unit" -> m.unit)).toMap)
    val record = Map(
      "workload" -> a("workload"), "seed" -> ctx.seed, "seconds" -> ctx.seconds,
      "trace" -> traced, "master" -> s"local[${ctx.cores}]",
      "correct" -> failures.isEmpty, "check_failures" -> failures,
      "ops" -> rec.attempted.keys.map(k => k -> Map(
        "attempted" -> rec.attempted(k), "failed" -> rec.failed.getOrElse(k, 0),
        "error" -> rec.errors.getOrElse(k, null),
        "wall_ms" -> rec.wallMs.getOrElse(k, Nil).map(x => math.rint(x * 100) / 100))).toMap,
      "metrics" -> (e2e ++ detail ++ layerMetrics).map(m =>
        m.name -> Map("value" -> finite(m.value), "unit" -> m.unit, "n" -> m.n)).toMap)

    if (traced) {
      val dir = Paths.get(a("trace-dir"))
      Files.createDirectories(dir)
      val spans = setupRec.spans ++ rec.spans ++ layerRec.spans ++ listener.get.childSpans()
      val file = dir.resolve(Paths.get(a("out")).getFileName.toString)
      Files.write(file, json(Map("spans" -> spans.map(s => Map(
        "id" -> s.id, "name" -> s.name, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "parent" -> s.parent, "op" -> s.opId)))).getBytes(
        StandardCharsets.UTF_8))
    }
    Files.write(Paths.get(a("out")),
      json(Map("result" -> result, "record" -> record))
        .getBytes(StandardCharsets.UTF_8))
    spark.stop()
    sys.exit(if (failures.isEmpty) 0 else 1)
  }

  private def json(v: AnyRef): String = Serialization.write(v)(DefaultFormats)

  /** JSON has no NaN or infinity; such a value is written as null. */
  private def finite(d: Double): Any = if (d.isNaN || d.isInfinite) null else d

  private def kindWall(r: Recorder): Seq[Metric] =
    r.wallMs.toSeq.map { case (k, xs) => Metric(s"$k.wall_ms", Stats.median(xs), "ms", xs.size) }

  private def noteMetrics(r: Recorder): Seq[Metric] =
    r.notes.toSeq.map { case (k, xs) =>
      Metric(k, Stats.median(xs), if (k.endsWith("_ms")) "ms" else "count", xs.size)
    }

  val SparkKeys = Seq("jobs", "tasks", "exec_run_ms", "exec_cpu_ms",
    "scheduler_delay_ms", "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "outside_jobs_ms")
  val SparkUnits: Map[String, String] = SparkKeys.map(k => k ->
    (if (k.endsWith("_ms")) "ms" else if (k.endsWith("_bytes")) "bytes" else "count")).toMap

  /** The per-layer metrics every traced run reports on its result line. */
  val PerLayerKeys: Set[String] = (Seq("session.create_ms", "datagen.gen_ms",
    "datagen.rows") ++ Kernels.Names ++ SparkKeys.map("spark." + _)).toSet
}
