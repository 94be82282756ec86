package graftbench

import java.lang.management.{ManagementFactory, MemoryType}

import com.sun.management.GarbageCollectionNotificationInfo
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import org.apache.spark.graftbench.SparkAccess
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.{ProgramAccess, SparkEntry, Substrates, Tables}
import graft.ops.{IdOps, KMeansOps, Similarity, TextOps, Tfidf}
import graft.pipeline.Stages

/** One benchmark run in one JVM: set up, one cold pass, then warm passes
  * until the measuring window closes. Writes every figure and check
  * outcome to `<work>/result.json`; `run.py` turns that into the
  * benchmark's output line.
  *
  * Arguments are `key=value` pairs: workload, input, work, seconds,
  * trace (0|1), seed, cpus, and for the review workload k and max_iter.
  */
object Harness {

  final case class Call(name: String, span: String, planS: Double, execS: Double) {
    def s: Double = planS + execS
  }

  /** One pass: a pipeline run or a registry round. */
  final case class Pass(
      wallS: Double, calls: Vector[Call], heap: Heap,
      counters: Map[String, Vector[Long]], failures: Vector[String], digest: Map[String, String],
      iterations: Int = 0, gcS: Double = Double.NaN)

  /** Heap figures of one pass, in MB: the peak live heap while it ran,
    * and what it left resident.
    */
  final case class Heap(peakMb: Double, liveMb: Double)

  def clock: Double = System.nanoTime() / 1e9

  def timed[T](f: => T): (T, Double) = {
    val t0 = clock
    val r = f
    (r, clock - t0)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolation quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted.toVector
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  val heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val liveHeapPeak = new java.util.concurrent.atomic.AtomicLong(0L)
  private def recordLiveHeap(bytes: Long): Unit = liveHeapPeak.accumulateAndGet(bytes, math.max(_, _))
  // heap in use after each collection: the live set, independent of how
  // far the young generation is allowed to fill between collections
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: Any) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          recordLiveHeap(info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum)
        }, null, null)
    case _ =>
  }

  /** Starts a heap window from a collected heap. */
  def resetHeapPeaks(): Unit = {
    System.gc()
    liveHeapPeak.set(0L)
  }

  /** Closes the window with a full collection: the heap still in use
    * after it is what the pass left resident, and it also bounds the
    * peak of a pass that never collected. Spark's context cleaner drops
    * unreferenced broadcasts and shuffles only after a collection finds
    * them, and non-blocking unpersists release their blocks later still,
    * so the heap is collected until it stops shrinking.
    */
  def heapAfterPass(): Heap = {
    def collected(): Long = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var live = collected()
    var prev = Long.MaxValue
    var rounds = 1
    while (rounds < 3 || (prev - live > 1000000L && rounds < 10)) {
      Thread.sleep(200)
      prev = live
      live = collected()
      rounds += 1
    }
    recordLiveHeap(live)
    Heap(liveHeapPeak.get / 1e6, live / 1e6)
  }

  def jitMs: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  def lines(path: String): Seq[String] =
    Files.readAllLines(Paths.get(path), StandardCharsets.UTF_8).asScala.map(_.trim).filter(_.nonEmpty).toSeq

  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val bench = a("workload") match {
      case "registry_mix" => new RegistryBench(a)
      case _ => new ReviewsBench(a)
    }
    val out = bench.run()
    Files.write(Paths.get(a("work"), "result.json"), Json.render(out).getBytes(StandardCharsets.UTF_8))
  }
}

/** Shared run skeleton: session set-up, the pass loop, and the figures
  * every workload reports.
  */
abstract class Bench(a: Map[String, String]) {
  import Harness._

  val work: String = a("work")
  val input: String = a("input")
  val seed: Long = a("seed").toLong
  val seconds: Double = a("seconds").toDouble
  val traceOn: Boolean = a("trace") == "1"
  val cpus: Int = a("cpus").toInt
  val ledger: Map[String, Any] = Json.parse(new String(
    Files.readAllBytes(Paths.get(input, "ledger.json")), StandardCharsets.UTF_8)).asInstanceOf[Map[String, Any]]

  var spark: SparkSession = _
  val trace = new Trace

  def newSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def span[T](name: String)(f: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Trace.Key, name)
    try f finally sc.setLocalProperty(Trace.Key, null)
  }

  /** Workload-specific preparation after the session starts. */
  def prepare(): Unit

  /** One timed pass; index 0 is the cold pass, whose output digests the
    * later passes are compared against.
    */
  def pass(index: Int): Pass

  /** Called before every warm pass; returns the persisted RDDs the
    * previous pass left behind.
    */
  def beforeWarmPass(): Int

  /** Documents one pass processes. */
  def docs: Double

  /** Per-layer figures from the traced warm passes, plus isolated
    * operator timings run after the measuring window.
    */
  def layerFigures(traced: Seq[Pass]): Map[String, Double]

  def attempted(passes: Seq[Pass]): Int

  /** Workload-specific details for the result file. */
  def info: Map[String, Any] = Map.empty

  def failedCount(passes: Seq[Pass]): Int

  def digestCompared(passes: Seq[Pass]): (Int, Int) = {
    val ref = passes.head.digest
    val pairs = for (p <- passes.tail; (k, d) <- p.digest if ref.contains(k)) yield ref(k) == d
    (pairs.count(!_), pairs.size)
  }

  def run(): Map[String, Any] = {
    // set-up, once, in this fresh JVM: start the session, prepare, and
    // make the cold first pass, as every `PipelineMain` invocation does
    val runStart = clock
    spark = newSession()
    val (_, prepareS) = timed(prepare())
    val sessionS = clock - runStart
    val sc = spark.sparkContext
    if (traceOn) sc.addSparkListener(trace)

    val jit0 = jitMs
    val cg0 = SparkAccess.codegenCompiles
    val cold = pass(0)
    val coldJitMs = jitMs - jit0
    val coldCompiles = SparkAccess.codegenCompiles - cg0
    // the cold pass's checks and heap collections are the harness's, not
    // set-up
    val setupS = sessionS + cold.wallS

    val warm = ArrayBuffer.empty[Pass]
    val persistedAfter = ArrayBuffer.empty[Double]
    val windowStart = clock
    // at least two warm passes, so every run compares digests across
    // passes and takes a median of two
    while (warm.size < 2 || (clock - windowStart < seconds && warm.size < 200)) {
      persistedAfter += beforeWarmPass().toDouble
      warm += pass(warm.size + 1)
    }
    val windowS = clock - windowStart
    val all = cold +: warm.toVector
    val clean = warm.filter(_.failures.isEmpty).toVector
    val (mismatch, compared) = digestCompared(all)

    val walls = clean.map(_.wallS)
    val callS = clean.flatMap(_.calls.map(_.s))
    val e2e = Map[String, Double](
      "setup_s" -> setupS,
      "pass_s" -> median(walls),
      "docs_per_s" -> docs / median(walls),
      "call_p50_s" -> quantile(callS, 0.5),
      "call_p90_s" -> quantile(callS, 0.9),
      "live_heap_mb" -> median(clean.map(_.heap.liveMb)))

    val layer: Map[String, Double] =
      if (!traceOn) Map.empty
      else layerFigures(clean) ++ Map(
        "trace.pass_s" -> median(walls),
        "jvm.cold_pass_s" -> cold.wallS,
        "jvm.peak_heap_mb" -> median(clean.map(_.heap.peakMb)),
        "setup.prepare_s" -> prepareS,
        "jvm.jit_ms" -> coldJitMs,
        "jvm.codegen_compiles" -> coldCompiles.toDouble,
        "spark.persisted_rdds_after" -> median(persistedAfter.toSeq),
        "check.failed_frac" -> failedCount(all).toDouble / attempted(all),
        "check.digest_mismatch_frac" -> (if (compared == 0) 0.0 else mismatch.toDouble / compared))

    val figuresS = clock - runStart
    spark.stop()
    Map(
      "jvm_phases_s" -> Map("session" -> sessionS, "cold" -> cold.wallS, "window" -> windowS,
        "total" -> figuresS),
      "attempted" -> attempted(all),
      "failed" -> failedCount(all),
      "failures" -> all.flatMap(_.failures).distinct.take(20),
      "passes" -> all.size,
      "cold_pass_s" -> cold.wallS,
      "pass_walls" -> all.map(_.wallS),
      "samples" -> Map("passes" -> clean.size, "calls" -> callS.size),
      "digest_mismatch" -> mismatch,
      "digest_compared" -> compared,
      "iterations" -> all.map(_.iterations),
      "call_medians" -> clean.flatMap(_.calls).groupBy(_.name).map { case (n, cs) => n -> median(cs.map(_.s)) },
      "info" -> info,
      "e2e" -> e2e,
      "layer" -> layer)
  }

  /** Sum of per-span counter vectors, for the spans `keep` selects. */
  def counterSum(p: Pass, keep: String => Boolean): Vector[Long] =
    p.counters.filter { case (k, _) => keep(k) }.values
      .foldLeft(Vector.fill(Trace.Fields.size)(0L))((acc, v) => acc.zip(v).map { case (x, y) => x + y })

  /** The phase figures of the per-layer table: `<phase>.s` plus the
    * Spark counters of the spans mapped to that phase, medians over the
    * traced passes.
    */
  def phaseFigures(traced: Seq[Pass], phaseOf: String => String): Map[String, Double] =
    Seq("stage1", "stage2", "stage3", "sink").flatMap { ph =>
      def med(f: Pass => Double) = median(traced.map(f))
      def c(p: Pass) = counterSum(p, s => phaseOf(s) == ph)
      Seq(
        s"$ph.s" -> med(p => p.calls.filter(x => phaseOf(x.span) == ph).map(_.s).sum),
        s"$ph.jobs" -> med(p => c(p)(Trace.Jobs).toDouble),
        s"$ph.tasks" -> med(p => c(p)(Trace.Tasks).toDouble),
        s"$ph.shuffle_write_mb" -> med(p => c(p)(Trace.ShuffleWriteBytes) / 1e6),
        s"$ph.exec_run_s" -> med(p => c(p)(Trace.ExecRunMs) / 1e3),
        s"$ph.spill_mb" -> med(p => c(p)(Trace.SpillBytes) / 1e6))
    }.toMap

  /** Per-call figures: time inside the program's call versus in the
    * action on its result, and Spark work per call.
    */
  def callFigures(traced: Seq[Pass]): Map[String, Double] = {
    def med(f: Pass => Double) = median(traced.map(f))
    def tot(p: Pass) = counterSum(p, _ => true)
    Map(
      "calls.plan_s" -> med(_.calls.map(_.planS).sum),
      "calls.exec_s" -> med(_.calls.map(_.execS).sum),
      "calls.jobs_per_call" -> med(p => tot(p)(Trace.Jobs).toDouble / p.calls.size),
      "calls.tasks_per_call" -> med(p => tot(p)(Trace.Tasks).toDouble / p.calls.size),
      "calls.shuffle_write_mb" -> med(p => tot(p)(Trace.ShuffleWriteBytes) / 1e6 / p.calls.size),
      "jvm.gc_s" -> med(_.gcS))
  }

  /** Isolated timings of the public operators the pipeline is built
    * from, each forced by an action that cannot be pruned away, on this
    * workload's own documents. `parsed` carries `keyCols` (the id order)
    * and `textCol`.
    */
  def operatorFigures(
      parsed: DataFrame, keyCols: Seq[String], textCol: String,
      stop: Seq[String], dict: Seq[String], k: Int): (Map[String, Double], DataFrame) = {
    val session = spark
    import session.implicits._
    val (_, tokS) = timed(span("iso.tokenize") {
      parsed.select(TextOps.tokenizeFiltered(col(textCol), stop, dict).as("t"))
        .agg(sum(size(col("t")))).collect()
    })
    val (_, seqS) = timed(span("iso.seq_ids") {
      IdOps.sequentialIdsAtScale(parsed, keyCols, "id").agg(max(col("id"))).collect()
    })
    spark.catalog.clearCache()
    val docsDf = IdOps.sequentialIdsAtScale(parsed, keyCols, "id")
      .select(col("id"), TextOps.tokenizeFiltered(col(textCol), stop, dict).as("toks"))
      .persist()
    val n = docsDf.count()
    val (dfreq, dfS) = timed(span("iso.doc_freq")(Tfidf.docFreq(docsDf, "id", "toks").collect()))
    val observed = spark.createDataFrame(dfreq.toSeq.asJava, dfreq.headOption.map(_.schema).getOrElse(
      StructType.fromDDL("word STRING, df LONG")))
    val idf = dict.toDF("word").join(Tfidf.withIdf(observed, n), Seq("word"), "left")
      .withColumn("idf", coalesce(col("idf"), lit(math.log(n + 1.0) + 1.0)))
    val (rows, denseS) = timed(span("iso.dense") {
      Tfidf.tfidfVectors(docsDf, "id", "toks", idf, scale = 6, dense = true)
        .agg(count(lit(1)), sum(col("weight"))).collect()
    })
    val (sample, sampleS) = timed(span("iso.sample_k") {
      IdOps.sampleK(docsDf.select(col("id")), k, seed, "cidx").collect()
    })
    val points = Tfidf.tfidfVectors(docsDf, "id", "toks", idf, scale = 6, dense = true)
      .groupBy(col("id"))
      .agg(array_sort(collect_list(struct(col("word"), col("weight")))).as("wv"))
      .select(col("id"), transform(col("wv"), _.getField("weight")).as("v"))
      .persist()
    points.count()
    val ids = sample.map(_.getLong(0)).toSet
    val centroids = points.filter(col("id").isin(ids.toSeq: _*)).collect()
      .sortBy(_.getLong(0)).zipWithIndex
      .map { case (r, i) => i.toLong -> r.getSeq[Double](1).toArray }
    val (_, assignS) = timed(span("iso.assign") {
      KMeansOps.assign(points, "id", "v", centroids).agg(sum(col("dist")), count(lit(1))).collect()
    })
    val assigned = KMeansOps.assign(points, "id", "v", centroids).persist()
    assigned.count()
    val (_, newCS) = timed(span("iso.new_centroids")(KMeansOps.newCentroids(assigned, "v").collect()))
    val (_, sseS) = timed(span("iso.sse")(KMeansOps.sse(assigned).collect()))
    assigned.unpersist()
    docsDf.unpersist()
    (Map(
      "textops.tokenize_s" -> tokS,
      "idops.seq_ids_s" -> seqS,
      "idops.sample_k_s" -> sampleS,
      "tfidf.doc_freq_s" -> dfS,
      "tfidf.dense_s" -> denseS,
      "tfidf.dense_rows" -> rows.head.getLong(0).toDouble,
      "kmeans.assign_s" -> assignS,
      "kmeans.new_centroids_s" -> newCS,
      "kmeans.sse_s" -> sseS), points)
  }
}

/** The review workload: the paper's three stages through the same
  * calls, order and eager points as `PipelineMain`, with its default
  * Parquet sinks.
  */
final class ReviewsBench(a: Map[String, String]) extends Bench(a) {
  import Harness._

  val k: Int = a("k").toInt
  val maxIter: Int = a("max_iter").toInt
  val jsonl = s"$input/reviews.jsonl"
  val ledgerN: Long = ledger("n").asInstanceOf[Double].toLong
  val ledgerDf: Map[String, Long] =
    ledger("df").asInstanceOf[Map[String, Any]].map { case (w, v) => w -> v.asInstanceOf[Double].toLong }
  val ledgerEmpty: Long = ledger("empty_after_filter").asInstanceOf[Double].toLong
  var stop: Seq[String] = Nil
  var dict: Seq[String] = Nil

  def docs: Double = ledgerN.toDouble

  def prepare(): Unit = {
    stop = lines(s"$input/stopwords.txt")
    dict = lines(s"$input/dict.txt")
  }

  private def sink(df: DataFrame, path: String): Unit = df.write.mode("overwrite").parquet(path)

  def beforeWarmPass(): Int = {
    val left = spark.sparkContext.getPersistentRDDs.size
    spark.catalog.clearCache()
    left
  }

  def attempted(passes: Seq[Pass]): Int = passes.size
  def failedCount(passes: Seq[Pass]): Int = passes.count(_.failures.nonEmpty)

  def pass(index: Int): Pass = {
    val out = s"$work/out/pass$index"
    val calls = ArrayBuffer.empty[Call]
    def call[T](name: String, sp: String, plan: => T)(exec: T => Unit): T = {
      val (v, p) = timed(span(sp)(plan))
      val (_, e) = timed(span(sp)(exec(v)))
      calls += Call(name, sp, p, e)
      v
    }
    val before = if (traceOn) trace.snapshot(spark.sparkContext) else Map.empty[String, Vector[Long]]
    resetHeapPeaks()
    val gc0 = gcSeconds
    try {
      val t0 = clock
      var n = 0L
      val s1 = call("stage1", "stage1", Stages.stage1(spark, jsonl, stop, dict).persist())(s => n = s.count())
      call("sink.stage1", "sink", ())(_ => sink(s1, s"$out/stage1"))
      val s2 = call("stage2", "stage2", Stages.stage2(s1, dict, k, seed))(_ => ())
      call("sink.tfidf", "sink", ())(_ => sink(s2.tfidf, s"$out/tfidf"))
      call("sink.idf", "sink", ())(_ => sink(s2.idf, s"$out/idf"))
      val r = call("stage3", "stage3", Stages.stage3(s2, maxIter))(_ => ())
      val assignments = r.assignments.drop("v")
      call("sink.assign", "sink", ())(_ => sink(assignments, s"$out/assignments"))
      val wall = clock - t0
      val gc = gcSeconds - gc0
      val heap = heapAfterPass()
      val counters =
        if (traceOn) Trace.delta(trace.snapshot(spark.sparkContext), before) else Map.empty[String, Vector[Long]]
      val sse = r.sseHistory.map(_.values.sum).toVector
      val (failures, digest) = span("check")(check(out, n, sse))
      Pass(wall, calls.toVector, heap, counters, failures, digest, r.iterations, gc)
    } catch {
      case e: Throwable =>
        Pass(Double.NaN, calls.toVector, Heap(Double.NaN, Double.NaN), Map.empty,
          Vector(s"pass $index threw ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)), Map.empty)
    }
  }

  /** Output checks against the generator's ledger, on what the sinks
    * wrote, outside the timed pass.
    */
  private def check(out: String, n: Long, sse: Vector[Double]): (Vector[String], Map[String, String]) = {
    val bad = ArrayBuffer.empty[String]
    if (n != ledgerN) bad += s"stage-1 count $n, ledger ${ledgerN}"

    val idfRows = spark.read.parquet(s"$out/idf").select("word", "df", "idf").collect()
    if (idfRows.map(_.getString(0)).toSet != dict.toSet) bad += "idf words differ from the dictionary"
    idfRows.foreach { r =>
      val w = r.getString(0)
      val df = ledgerDf.getOrElse(w, 0L)
      val want = math.log((ledgerN + 1.0) / (df + 1.0)) + 1.0
      if (r.getLong(1) != df) bad += s"df($w) ${r.getLong(1)}, ledger $df"
      if (math.abs(r.getDouble(2) - want) > 1e-12 * want) bad += s"idf($w) ${r.getDouble(2)}, expected $want"
    }

    // round-6 weights: each is off by at most 5e-7, so a norm is off by
    // at most sqrt(|dict|) * 5e-7 plus the squares' rounding
    val tol = math.sqrt(dict.size.toDouble) * 1e-6
    val t = spark.read.parquet(s"$out/tfidf")
      .groupBy(col("id")).agg(sum(col("weight") * col("weight")).as("ss"), count(lit(1)).as("c"))
      .agg(
        count(lit(1)),
        sum(col("c")),
        sum(when(col("ss") === 0, 1).otherwise(0)),
        sum(when(col("ss") =!= 0 && abs(sqrt(col("ss")) - 1) > tol, 1).otherwise(0)))
      .collect().head
    val denseRows = t.getLong(1)
    if (denseRows != ledgerN * dict.size) bad += s"tfidf rows $denseRows, expected ${ledgerN * dict.size}"
    if (t.getLong(3) != 0) bad += s"${t.getLong(3)} review vectors with norm not 1"
    if (t.getLong(2) != ledgerEmpty) bad += s"${t.getLong(2)} all-zero vectors, ledger $ledgerEmpty"

    sse.sliding(2).foreach {
      case Seq(x, y) if y > x * (1 + 1e-9) + 1e-9 => bad += s"SSE rose from $x to $y"
      case _ =>
    }

    val asg = spark.read.parquet(s"$out/assignments")
      .agg(count(lit(1)), countDistinct(col("id")), expr("bit_xor(xxhash64(id, cluster))"))
      .collect().head
    if (asg.getLong(0) != ledgerN || asg.getLong(1) != ledgerN)
      bad += s"${asg.getLong(0)} assignments for ${asg.getLong(1)} ids, ledger $ledgerN"
    val digest = s"${asg.get(2)}|" + sse.map(x => f"$x%.6f").mkString(",")
    (bad.toVector, Map("assignments+sse" -> digest))
  }

  def layerFigures(traced: Seq[Pass]): Map[String, Double] = {
    def med(f: Pass => Double) = median(traced.map(f))
    def callS(p: Pass, name: String) = p.calls.filter(_.name == name).map(_.s).sum
    val iterations = med(_.iterations.toDouble)
    val stage3S = med(p => callS(p, "stage3"))
    val stage3Jobs = med(p => counterSum(p, _ == "stage3")(Trace.Jobs).toDouble)

    spark.catalog.clearCache()
    val schema = StructType.fromDDL(
      "reviewerID STRING, asin STRING, reviewerName STRING, reviewText STRING")
    val parsed = spark.read.text(jsonl)
      .filter(!col("value").contains("review/text"))
      .select(from_json(col("value"), schema).as("r")).select(col("r.*"))
      .filter(schema.fieldNames.map(col(_).isNotNull).reduce(_ && _))
    val (ops, points) = operatorFigures(parsed, Seq("asin"), "reviewText", stop, dict, k)
    // the pair kernels are not part of the pipeline; timed here on this
    // workload's vectors so a kernel change shows on its own line
    val (_, pairsS) = timed(span("iso.pairs") {
      Similarity.knnGraph(points, "id", "v", k = 5).collect()
    })
    points.unpersist()

    phaseFigures(traced, identity) ++ callFigures(traced) ++ ops ++ Map(
      "sink.stage1_s" -> med(p => callS(p, "sink.stage1")),
      "sink.tfidf_s" -> med(p => callS(p, "sink.tfidf")),
      "sink.assign_s" -> med(p => callS(p, "sink.assign")),
      "sources.input_mb" -> new java.io.File(jsonl).length() / 1e6,
      "kmeans.iterations" -> iterations,
      "kmeans.iter_s" -> stage3S / iterations,
      "kmeans.jobs_per_iter" -> stage3Jobs / iterations,
      "calls.pipeline_ops_s" -> med(p => Seq("stage1", "stage2", "stage3").map(callS(p, _)).sum),
      "similarity.pairs_s" -> pairsS)
  }
}

/** `registry_mix`: rounds over a fixed list of registry queries, in a
  * seeded order each round.
  */
final class RegistryBench(a: Map[String, String]) extends Bench(a) {
  import Harness._

  /** The pipeline-decomposition queries, by the stage they stand for. */
  val pipelineQueries: Map[String, String] = Map(
    "q_tokens_dict" -> "stage1", "q_seq_ids" -> "stage1", "q_json_extract" -> "stage1",
    "q_docfreq" -> "stage2", "q_idf" -> "stage2", "q_tfidf" -> "stage2", "q_sample_k" -> "stage2",
    "q_kmeans_assign" -> "stage3", "q_kmeans_centroids" -> "stage3", "q_kmeans_iter2" -> "stage3",
    "q_avro_roundtrip" -> "sink", "q_json_roundtrip" -> "sink")
  /** One entry per pair-kernel family: exact and LSH cosine, exact and
    * MinHash Jaccard, and the memoized exact kNN graph.
    */
  val pairQueries: Seq[String] = Seq(
    "q_cosine_topk", "q_cosine_pairs_lsh", "q_jaccard_pairs", "q_minhash_pairs", "q_knn_graph")
  /** The substrates these queries consume, built during set-up. */
  val substrates: Seq[String] = Seq("substrate:shingles3", "substrate:knn_graph")
  val substrateS = scala.collection.mutable.Map.empty[String, Double]

  override def info: Map[String, Any] = Map("substrate_build_s" -> substrateS.toMap)

  val names: Seq[String] = pipelineQueries.keys.toSeq.sorted ++ pairQueries
  lazy val registry: Map[String, SparkEntry.Q] =
    ProgramAccess.queries(names.toSet).map(q => q.name -> q).toMap
  val phaseOf: String => String = s => pipelineQueries.getOrElse(s, if (pairQueries.contains(s)) "pairs" else "")

  def docs: Double = ledger("n").asInstanceOf[Double]

  def prepare(): Unit = {
    require(registry.size == names.size, s"registry lacks ${names.filterNot(registry.contains)}")
    val built = Substrates.all.toMap
    substrates.foreach(s => substrateS(s) = timed(span(s)(built(s)(spark, input).count()))._2)
  }

  def beforeWarmPass(): Int = spark.sparkContext.getPersistentRDDs.size

  def attempted(passes: Seq[Pass]): Int = passes.map(_.calls.size).sum
  def failedCount(passes: Seq[Pass]): Int = passes.map(_.failures.size).sum

  private def digestOf(rows: Array[Row]): String =
    MurmurHash3.seqHash(rows.map(_.toString).sorted.toSeq).toString

  def pass(index: Int): Pass = {
    val sc = spark.sparkContext
    val order = new scala.util.Random(seed * 1000 + index).shuffle(names)
    val calls = ArrayBuffer.empty[Call]
    val failures = ArrayBuffer.empty[String]
    val digest = scala.collection.mutable.Map.empty[String, String]
    val keep = scala.collection.mutable.Map.empty[String, (StructType, Array[Row])]
    val before = if (traceOn) trace.snapshot(sc) else Map.empty[String, Vector[Long]]
    resetHeapPeaks()
    val gc0 = gcSeconds
    val t0 = clock
    for (name <- order) {
      val pinned = sc.getPersistentRDDs.keySet
      try {
        val (df, p) = timed(span(name)(registry(name).fn(spark, input)))
        val (rows, e) = timed(span(name)(df.collect()))
        calls += Call(name, name, p, e)
        if (rows.isEmpty) failures += s"$name returned no rows (round $index)"
        digest(name) = digestOf(rows)
        if (index == 0) keep(name) = (df.schema, rows)
      } catch {
        case e: Throwable =>
          calls += Call(name, name, Double.NaN, Double.NaN)
          failures += s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
      }
      // release what the query pinned, except the substrate memo's frames
      val prot = ProgramAccess.protectedRddIds
      sc.getPersistentRDDs.filterNot { case (id, _) => pinned(id) || prot(id) }
        .values.foreach(_.unpersist(blocking = false))
    }
    val wall = clock - t0
    val gc = gcSeconds - gc0
    val heap = heapAfterPass()
    val counters = if (traceOn) Trace.delta(trace.snapshot(sc), before) else Map.empty[String, Vector[Long]]
    if (index == 0) writeOracleDumps(keep.toMap)
    Pass(wall, calls.toVector, heap, counters, failures.toVector, digest.toMap, 2, gc)
  }

  /** The first round's results as parquet plus the registry's oracle SQL,
    * for the DuckDB comparison `run.py` makes after this JVM exits.
    */
  private def writeOracleDumps(firstRound: Map[String, (StructType, Array[Row])]): Unit = {
    val dir = s"$work/oracle"
    val oracle = registry.values.flatMap(q => q.oracle.map(q.name -> _)).toMap
      .filter { case (n, _) => firstRound.contains(n) }
    for ((name, (schema, rows)) <- firstRound if oracle.contains(name))
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$name")
    new java.io.File(dir).mkdirs()
    Files.write(Paths.get(dir, "oracle_sql.json"),
      Json.render(oracle).getBytes(StandardCharsets.UTF_8))
  }

  def layerFigures(traced: Seq[Pass]): Map[String, Double] = {
    def med(f: Pass => Double) = median(traced.map(f))
    def phaseS(p: Pass, ph: String) = p.calls.filter(c => phaseOf(c.span) == ph).map(_.s).sum
    def callS(p: Pass, name: String) = p.calls.filter(_.name == name).map(_.s).sum

    val docsDf = Tables.table(spark, input, "documents")
    val (ops, points) = operatorFigures(docsDf, Seq("source", "doc_id"), "text",
      lines(s"$input/stopwords.txt"), lines(s"$input/dict.txt"), 4)
    points.unpersist()
    // the sinks, each timed alone in the pipeline's default format on the
    // query result that stands for that stage's output
    def sinkS(q: String): Double = {
      val df = registry(q).fn(spark, input)
      timed(span(s"iso.sink.$q")(df.write.mode("overwrite").parquet(s"$work/out/sink/$q")))._2
    }
    val inputMb = Seq("documents", "embeddings", "customer", "events")
      .map(t => new java.io.File(s"$input/$t.parquet").length()).sum / 1e6

    phaseFigures(traced, phaseOf) ++ callFigures(traced) ++ ops ++ Map(
      "sink.stage1_s" -> sinkS("q_seq_ids"),
      "sink.tfidf_s" -> sinkS("q_tfidf"),
      "sink.assign_s" -> sinkS("q_kmeans_assign"),
      "sources.input_mb" -> inputMb,
      "kmeans.iterations" -> 2.0,
      "kmeans.iter_s" -> med(p => callS(p, "q_kmeans_iter2")) / 2,
      "kmeans.jobs_per_iter" -> med(p => counterSum(p, _ == "q_kmeans_iter2")(Trace.Jobs).toDouble) / 2,
      "calls.pipeline_ops_s" -> med(p => Seq("stage1", "stage2", "stage3").map(phaseS(p, _)).sum),
      "similarity.pairs_s" -> med(p => phaseS(p, "pairs")))
  }
}
