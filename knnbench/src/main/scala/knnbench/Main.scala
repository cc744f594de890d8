package knnbench

import java.io.File
import java.lang.management.ManagementFactory

import graft.GraftSession
import graft.core.KnnParams
import graft.functions.GraftFunctions
import graft.ingest.SeriesIngest
import graft.ml.{KnnClassifier, KnnClassifierModel}
import graft.operators.Knn
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One run of one workload: generate the inputs from the seed, set the
  * program up `SetupReps` times, then time warm operations for the given
  * number of seconds in a closed loop with one client, check every answer,
  * and print one JSON result line as the last line of stdout.
  *
  *   --workload har_1nn_batch | har_knn_request
  *   --seed n --seconds s --trace 0|1 --cores n --work dir --trace-out file
  */
object Main {
  /** The reference's Model 2 cascade as q26 runs it: exact DTW in a
    * Sakoe-Chiba band of 56 (10% of 561), PAA-Manhattan candidate ranking
    * and a 16x candidate margin.
    */
  val Band = 56
  val Q26 = KnnParams(distance = "dtw", band = Band, lbPruning = true,
    candidateFactor = 16, coarsenFactor = 8)

  /** Sizes of one workload. `nTest` is the test side of a batch pass or the
    * pool requests draw from; `perOp` is the test series one operation
    * classifies.
    */
  final case class Shape(nTrain: Int, nTest: Int, perOp: Int)

  val Shapes: Map[String, Shape] = Map(
    // the reference's 7352-series train side; 480 of its 2947 test series
    // keep a pass to 1-2 s, so a short run still holds several warm passes
    "har_1nn_batch" -> Shape(7352, 480, 480),
    "har_knn_request" -> Shape(7352, 256, 4))

  val SetupReps = 2
  val WarmupOps = 2
  val BruteForceSample = 8

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      cores: Int, work: File, traceOut: Option[File])

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Shapes.contains(w), s"unknown workload $w (known: ${Shapes.keys.toSeq.sorted.mkString(", ")})")
    Args(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      kv.getOrElse("cores", "4").toInt, new File(need("work")), kv.get("trace-out").map(new File(_)))
  }

  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNs(): Long = cpuBean.getProcessCpuTime

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** One checked answer row: (test index, label, distance if reported). */
  type Answer = (Int, Double, Option[Double])

  /** The program as one workload drives it, after set-up in one session. */
  trait Bound {
    /** The test indices operation `i` classifies. */
    def testsOf(i: Int): Seq[Int]
    /** Runs operation `i` and returns its answers. */
    def op(i: Int): Seq[Answer]
    def release(): Unit
  }

  final case class Timed(wallS: Double, cpuS: Double, answers: Seq[Answer])

  /** What a run keeps of its generated inputs: the test pool, the checks'
    * expected answers, the brute-force sample's outcome and the raw text
    * files. The train side stays only in a traced run, whose probes need
    * it; a timed run drops it here, so `retained_heap_mb` is the heap of
    * Spark and the program, not of the benchmark's own copy of the inputs.
    */
  final case class Prepared(test: Array[Array[Double]], checker: Checker,
      sample: Either[String, Int], text: Option[(String, String)], traced: Option[Inputs])

  def prepare(args: Args, shape: Shape, batch: Boolean): Prepared = {
    val inputs = Inputs.generate(args.seed, shape.nTrain, shape.nTest)
    val checker = new Checker(inputs, Band)
    val sample = checker.bruteForceSample(inputs, args.seed, BruteForceSample)
    val text = if (!batch || args.trace) Some(Inputs.writeText(inputs, args.work)) else None
    Prepared(inputs.test, checker, sample, text, if (args.trace) Some(inputs) else None)
  }

  def timed(body: => Seq[Answer]): Timed = {
    val c0 = cpuNs(); val t0 = System.nanoTime()
    val out = body
    val t1 = System.nanoTime(); val c1 = cpuNs()
    Timed((t1 - t0) / 1e9, (c1 - c0) / 1e9, out)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    def phase(what: String): Unit =
      System.err.println(f"[knnbench] ${(System.currentTimeMillis() - jvmStart) / 1e3}%.1f s: $what")
    val shape = Shapes(args.workload)
    val batch = args.workload != "har_knn_request"
    RefDtw.selfTest()
    args.work.mkdirs()
    val spans = new Spans(args.trace)

    // input generation and the brute-force sample: the benchmark's work,
    // outside set-up and the timed loop
    val prep = prepare(args, shape, batch)
    phase("inputs generated and checked")
    val base = GraftSession.builder(s"local[${args.cores}]")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(args.work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(args.work, "warehouse").getAbsolutePath)
      .getOrCreate()
    phase("spark started")
    try {
      val (trainPath, testPath) =
        if (batch) Inputs.writeParquet(base, args.seed, shape.nTrain, prep.test, args.work, args.cores)
        else ("", "")
      if (batch) {
        val bytes = new File(trainPath).listFiles().filter(_.getName.endsWith(".parquet")).map(_.length).sum
        System.err.println(f"[knnbench] train table: ${shape.nTrain} series, ${bytes / 1048576.0}%.1f MB of Parquet")
      }
      val engine = if (args.trace) Some(new Engine(base)) else None
      phase("tables written")

      def setUp(): Bound = {
        val session = spans("setup.session")(base.newSession())
        spans("setup.register")(GraftFunctions.register(session))
        engine.foreach(_.watch(session))
        if (batch) {
          val (train, test) = spans("setup.bind")(
            (session.read.parquet(trainPath), session.read.parquet(testPath)))
          new BatchBound(train, test, shape, spans)
        } else {
          val (x, y) = prep.text.get
          new RequestBound(session, fitModel(session, x, y, spans), prep.test, shape, spans)
        }
      }

      var wrong = List[String]()
      def check(b: Bound, i: Int, answers: Seq[Answer]): Boolean =
        prep.checker.checkAnswers(b.testsOf(i), answers) match {
          case None => true
          case Some(msg) => wrong ::= s"operation $i: $msg"; false
        }

      // set-up, several times: each in a fresh session, with its ingest,
      // fit and cold warm-up operations
      var bound: Bound = null
      val setupS = (1 to SetupReps).map { _ =>
        if (bound != null) bound.release()
        val t0 = System.nanoTime()
        bound = spans("setup")(setUp())
        var s = (System.nanoTime() - t0) / 1e9
        for (w <- 0 until WarmupOps) {
          val t = spans("setup.warmup")(timed(bound.op(-1 - w)))
          s += t.wallS
          check(bound, -1 - w, t.answers)
        }
        s
      }

      // the timed loop: one client, next operation when the last returns
      val ops = scala.collection.mutable.ArrayBuffer[Timed]()
      val stats = scala.collection.mutable.ArrayBuffer[EngineStats]()
      var attempted, failed = 0
      phase("set-up done")
      val loopStart = System.nanoTime()
      while (attempted == 0 || (System.nanoTime() - loopStart) / 1e9 < args.seconds) {
        val i = attempted
        attempted += 1
        try {
          val t = engine match {
            case None => timed(bound.op(i))
            case Some(e) =>
              val (t, st) = e.measure(spans("op", i)(timed(bound.op(i))))
              stats += st
              t
          }
          if (check(bound, i, t.answers)) ops += t else failed += 1
        } catch {
          case e: Exception =>
            failed += 1
            System.err.println(s"[knnbench] operation $i failed: $e")
        }
      }
      phase("loop done")
      val heapMb = retainedHeapMb()
      val sample = prep.sample
      sample.left.foreach(msg => wrong ::= s"brute-force 1-NN: $msg")
      wrong.reverse.take(5).foreach(m => System.err.println(s"[knnbench] wrong answer: $m"))
      System.err.println(f"[knnbench] ${args.workload} seed ${args.seed}: setups ${setupS.map(s => f"$s%.2f").mkString(" ")} s; " +
        s"${ops.size} ops, wall ${ops.map(o => f"${o.wallS}%.3f").mkString(" ")}; " +
        s"cpu ${ops.map(o => f"${o.cpuS}%.2f").mkString(" ")}; " +
        s"brute-force sample ${sample.fold(_ => "FAILED", n => s"$n ok")}")

      val metrics: Seq[(String, Double, String)] =
        if (!args.trace) {
          if (ops.isEmpty) Nil
          else {
            // every workload reports every metric, so `classified_per_s` and
            // `request_p50_s` both come from the median operation's wall time
            val p50 = median(ops.map(_.wallS).toSeq)
            Seq(("setup_s", median(setupS), "s"),
              ("classified_per_s", shape.perOp / p50, "series/s"),
              ("cpu_s", median(ops.map(_.cpuS).toSeq), "CPU-s"),
              ("retained_heap_mb", heapMb, "MB"),
              ("request_p50_s", p50, "s"))
          }
        } else {
          val layer = new LayerReport(base, prep.traced.get, prep.text.get, spans, stats.toSeq, shape, batch)
          args.traceOut.foreach(f => layer.write(f, args.workload, args.seed, setupS))
          layer.metrics
        }
      bound.release()
      phase("checks done")
      val correct = wrong.isEmpty && metrics.nonEmpty
      val body = metrics.map { case (n, v, u) => s""""$n": {"value": $v, "unit": "$u"}""" }.mkString(", ")
      println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
    } finally base.stop()
  }

  /** Ingest the raw text and fit the classifier, as an online service does
    * at start-up: k = 1, DTW in band 56, candidate pruning on.
    */
  def fitModel(session: SparkSession, x: String, y: String, spans: Spans): KnnClassifierModel = {
    val data = spans("ingest.parse")(
      SeriesIngest.loadLabeledSeries(session.read.text(x), session.read.text(y)))
    spans("ml.fit")(new KnnClassifier()
      .setK(1).setDistance("dtw").setBand(Band).setLbPruning(true)
      .setFeaturesCol("series").setLabelCol("label").setIdCol("id")
      .fit(data))
  }

  /** A request: a few test series as an in-memory frame of (id, series). */
  def requestFrame(session: SparkSession, test: Array[Array[Double]], tests: Seq[Int]): DataFrame = {
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("series", ArrayType(DoubleType, containsNull = false))))
    val rows = tests.map(t => Row(t.toLong, test(t)))
    session.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  def requestAnswers(rows: Array[Row]): Seq[Answer] =
    rows.map(r => (r.getLong(0).toInt, r.getDouble(1), None: Option[Double])).toSeq

  final class BatchBound(train: DataFrame, test: DataFrame, shape: Shape, spans: Spans) extends Bound {
    private val all = 0 until shape.nTest
    def testsOf(i: Int): Seq[Int] = all
    def op(i: Int): Seq[Answer] = {
      val df = spans("knn.call", i)(Knn.classify1NN(train, test, Q26))
      if (spans.enabled) spans("knn.plan", i)(df.queryExecution.executedPlan)
      val rows = spans("knn.exec", i)(df.collect())
      rows.map(r => (r.getLong(0).toInt, r.getDouble(1), Some(r.getDouble(2)))).toSeq
    }
    def release(): Unit = ()
  }

  final class RequestBound(session: SparkSession, model: KnnClassifierModel, test: Array[Array[Double]],
      shape: Shape, spans: Spans) extends Bound {
    def testsOf(i: Int): Seq[Int] = {
      val k = math.floorMod(i, shape.nTest / shape.perOp)
      (k * shape.perOp) until ((k + 1) * shape.perOp)
    }
    def op(i: Int): Seq[Answer] = {
      val req = requestFrame(session, test, testsOf(i))
      val df = spans("ml.transform_call", i)(model.transform(req)).select("id", "prediction")
      if (spans.enabled) spans("knn.plan", i)(df.queryExecution.executedPlan)
      requestAnswers(spans("knn.exec", i)(df.collect()))
    }
    def release(): Unit = model.release()
  }

  /** Used heap after full collections: the least of several, spaced out,
    * because Spark's cleaner frees broadcast and shuffle blocks only some
    * time after the objects that own them have been collected.
    */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 8).map { _ =>
      System.gc()
      Thread.sleep(150)
      mem.getHeapMemoryUsage.getUsed
    }.min / 1048576.0
  }
}
