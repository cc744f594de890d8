package knnbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.functions.SeriesFunctions
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The traced run's per-layer metrics. Layers the workload's own loop goes
  * through are read from its spans and engine counters, per operation,
  * as medians. The others are probed once after the loop on the
  * workload's own series: the batch workload does no text ingest or model
  * fit in its loop, and the kernels are timed standalone everywhere.
  */
final class LayerReport(base: SparkSession, inputs: Inputs, text: (String, String),
    spans: Spans, stats: Seq[EngineStats], shape: Main.Shape, batch: Boolean) {
  import Main.median

  private val session = base.newSession()

  /** Block-manager size of every persisted RDD after the loop (for the
    * request workload, the fitted model's checkpointed train side).
    */
  val persistedMb: Double = base.sparkContext.getRDDStorageInfo
    .map(i => i.memSize + i.diskSize).sum / 1048576.0

  private def timeMedian(reps: Int)(body: => Unit): Double = {
    body
    median((1 to reps).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    })
  }

  private def rows(schema: StructType, rs: Seq[Row]): DataFrame =
    session.createDataFrame(session.sparkContext.parallelize(rs, 4), schema).persist()

  private val pairSchema = StructType(Seq(
    StructField("a", ArrayType(DoubleType, containsNull = false)),
    StructField("b", ArrayType(DoubleType, containsNull = false))))

  /** Banded DTW cells per second over the pairs the exact phase mostly
    * sees: a test series against another train series of its twin's class.
    * (Against the twin itself the kernel's branches all predict and it runs
    * several times faster, so twins would overstate the rate.)
    */
  val dtwCellsPerS: Double = {
    val n = 4096
    val rng = new java.util.SplittableRandom(inputs.test.length.toLong)
    val byClass = inputs.train.indices.groupBy(inputs.labels(_))
    val pairs = rows(pairSchema, (0 until n).map { i =>
      val t = i % inputs.test.length
      val same = byClass(inputs.labels(inputs.twin(t)))
      var u = inputs.twin(t)
      while (u == inputs.twin(t)) u = same(rng.nextInt(same.size))
      Row(inputs.test(t), inputs.train(u))
    })
    pairs.count()
    val q = pairs.select(sum(SeriesFunctions.dtw(col("a"), col("b"), Main.Band)))
    val s = spans("functions.dtw")(timeMedian(3)(q.collect()))
    pairs.unpersist()
    n * RefDtw.bandCells(Inputs.Length, Main.Band) / s
  }

  /** PAA sketches plus Manhattan ranking, pairs per second: test series
    * against the whole train side, as candidate selection ranks them.
    */
  val rankPairsPerS: Double = {
    val n = 2048
    val test = rows(StructType(Seq(StructField("a", ArrayType(DoubleType, containsNull = false)))),
      (0 until n).map(i => Row(inputs.test(i % inputs.test.length))))
    val train = rows(StructType(Seq(StructField("b", ArrayType(DoubleType, containsNull = false)))),
      inputs.train.toSeq.map(Row(_)))
    test.count(); train.count()
    val f = Main.Q26.coarsenFactor
    val q = test.select(SeriesFunctions.barrier(SeriesFunctions.paa(col("a"), f)).as("sk"))
      .crossJoin(broadcast(train.select(SeriesFunctions.paa(col("b"), f).as("tsk"))))
      .select(sum(SeriesFunctions.manhattan(col("sk"), col("tsk"))))
    val s = spans("functions.rank")(timeMedian(3)(q.collect()))
    test.unpersist(); train.unpersist()
    n.toLong * inputs.train.length / s
  }

  /** Ingest, fit and one 4-series transform call: from the set-up and loop
    * spans on the request workload, probed once on the batch workload.
    */
  val (parseS, fitS, transformCallS) =
    if (!batch) (median(spans.seconds("ingest.parse")), median(spans.seconds("ml.fit")),
      median(spans.perOp("ml.transform_call").values.toSeq))
    else {
      val model = Main.fitModel(session, text._1, text._2, spans)
      val req = Main.requestFrame(session, inputs.test, 0 until 4)
      val df = spans("ml.transform_call")(model.transform(req))
      df.collect()
      model.release()
      (spans.seconds("ingest.parse").head, spans.seconds("ml.fit").head,
        spans.seconds("ml.transform_call").head)
    }

  private def perOpMedian(f: EngineStats => Double): Double = median(stats.map(f))

  val metrics: Seq[(String, Double, String)] = {
    val call = spans.perOp(if (batch) "knn.call" else "ml.transform_call")
    val plan = spans.perOp("knn.plan")
    val exact = stats.flatMap(_.exactRows).map(_.toDouble / shape.perOp)
    Seq(
      ("ingest.parse_s", parseS, "s"),
      ("ml.fit_s", fitS, "s"),
      ("ml.transform_call_s", transformCallS, "s"),
      ("knn.plan_s", median(plan.keys.toSeq.map(op => plan(op) + call.getOrElse(op, 0.0))), "s"),
      ("knn.exec_s", median(spans.perOp("knn.exec").values.toSeq), "s")) ++
      (if (exact.nonEmpty) Seq(("knn.exact_pairs_per_test", median(exact), "pairs")) else Nil) ++
      Seq(
        ("functions.dtw_cells_per_s", dtwCellsPerS, "cells/s"),
        ("functions.rank_pairs_per_s", rankPairsPerS, "pairs/s"),
        ("spark.jobs", perOpMedian(_.jobs), "count"),
        ("spark.stages", perOpMedian(_.stages), "count"),
        ("spark.tasks", perOpMedian(_.tasks), "count"),
        ("spark.executor_run_s", perOpMedian(_.executorRunS), "s"),
        ("spark.executor_cpu_s", perOpMedian(_.executorCpuS), "CPU-s"),
        ("spark.gc_s", perOpMedian(_.gcS), "s"),
        ("spark.shuffle_write_mb", perOpMedian(_.shuffleWriteMb), "MB"),
        ("spark.shuffle_read_mb", perOpMedian(_.shuffleReadMb), "MB"),
        ("spark.broadcast_mb", perOpMedian(_.broadcastMb), "MB"),
        ("spark.codegen_compiles", perOpMedian(_.codegenCompiles.toDouble), "count"),
        ("spark.codegen_compile_s", perOpMedian(_.codegenCompileS), "s"),
        ("spark.stage_skew", perOpMedian(_.stageSkew), "ratio"))
  }

  /** The trace file: per-layer metrics, per-operation engine counters, the
    * candidate-selection shape each operation ran, and every span.
    */
  def write(f: File, workload: String, seed: Long, setupS: Seq[Double]): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val ops = stats.zipWithIndex.map { case (s, i) =>
      s"""{"op":$i,"jobs":${s.jobs},"stages":${s.stages},"tasks":${s.tasks},""" +
        s""""executor_run_s":${s.executorRunS},"executor_cpu_s":${s.executorCpuS},"gc_s":${s.gcS},""" +
        s""""shuffle_write_mb":${s.shuffleWriteMb},"shuffle_read_mb":${s.shuffleReadMb},""" +
        s""""broadcast_mb":${s.broadcastMb},"codegen_compiles":${s.codegenCompiles},""" +
        s""""codegen_compile_s":${s.codegenCompileS},"stage_skew":${s.stageSkew},""" +
        s""""exact_kernel_rows":${s.exactRows.getOrElse(-1L)},"candidate_shape":${q(s.candidateShape)}}"""
    }
    val json =
      s"""{"workload":${q(workload)},"seed":$seed,""" +
        s""""shape":{"train":${shape.nTrain},"test":${shape.nTest},"series_per_op":${shape.perOp},"length":${Inputs.Length}},""" +
        s""""candidate_shape":${q(stats.map(_.candidateShape).distinct.mkString(" | "))},""" +
        s""""persisted_mb":$persistedMb,""" +
        s""""setup_s":${setupS.mkString("[", ",", "]")},""" +
        s""""per_layer":{${metrics.map { case (n, v, u) => s"${q(n)}:{\"value\":$v,\"unit\":${q(u)}}" }.mkString(",")}},""" +
        s""""ops":${ops.mkString("[\n", ",\n", "]")},""" +
        s""""spans":${spans.toJson}}"""
    f.getParentFile.mkdirs()
    Files.write(f.toPath, json.getBytes(StandardCharsets.UTF_8))
  }
}
