package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scratch profiling harness for optimization round 21 — NOT part of the
  * driver contract; runs ad-hoc sub-plan timings so a hot query's cost can
  * be attributed to its phases. Removed/ignored by the bench and verify.
  */
object Prof {
  def main(args: Array[String]): Unit = {
    // PROF_SHM=1: point the JVM temp dir (streaming checkpoints, staged
    // sources, shuffle scratch defaults) at tmpfs BEFORE anything loads
    // TempFileHelper — isolates whether the bounded streaming replays
    // are local-disk-IO bound
    if (sys.env.contains("PROF_SHM")) {
      val d = new java.io.File("/dev/shm/graft_prof_tmp")
      d.mkdirs()
      System.setProperty("java.io.tmpdir", d.getAbsolutePath)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", sys.env.getOrElse("PROF_UI", "false"))
      .config("spark.sql.artifact.isolation.enabled",
        sys.env.getOrElse("PROF_ISO", "true"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    // warmup as Bench does
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case e: Throwable => System.err.println(s"warmup: ${e.getMessage}") }
    SparkEntry.warmup(spark, sfDir)

    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def time(tag: String, n: Int = 5)(f: => Unit): Unit = {
      val ts = (1 to n).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      System.err.println(f"[prof] $tag%-40s " +
        ts.map(t => f"$t%.2f").mkString(","))
    }

    def t(name: String): DataFrame =
      graft.sources.EventTime.nanos(spark.read.parquet(s"$sfDir/$name.parquet"))

    // fused-cascade candidate scan alone (stagedump, knnphase)
    def fusedCands(testSel: DataFrame, trainSel: DataFrame,
        fk: Int, coarsen: Int): DataFrame = {
      import graft.functions.SeriesFunctions
      val spreadTest = graft.operators.Partitioning.spread(testSel)
      val testSk = spreadTest.withColumn("sk", SeriesFunctions.barrier(
        SeriesFunctions.paa(col("test_series"), coarsen)))
      val trainArr = trainSel
        .withColumn("tsk", SeriesFunctions.paa(col("train_series"), coarsen))
        .select(col("train_id"), col("tsk"))
        .agg(collect_list(struct(col("train_id"), col("tsk"))).as("tarr"))
      testSk.crossJoin(broadcast(trainArr))
        .select(col("test_id"), col("test_series"),
          SeriesFunctions.barrier(SeriesFunctions.topkScan(
            col("sk"), col("tarr"), fk)).as("cand_ids"))
    }

    val which = sys.env.getOrElse("PROF", "q37")

    if (which.contains("plans")) {
      val outDir = sys.env.getOrElse("PLANS_OUT", "/tmp/plans")
      val suffix = sys.env.getOrElse("PLANS_SUFFIX", "after")
      val names = sys.env.get("PLANS_QUERIES")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(SparkEntry.queries.keys.toSeq.sorted)
      new java.io.File(outDir).mkdirs()
      names.foreach { n =>
        try {
          val df = SparkEntry.queries(n)(spark, sfDir)
          val plan =
            if (df.isStreaming) "streaming frame: logical plan only\n" +
              df.queryExecution.optimizedPlan.toString
            else {
              val qe = df.queryExecution
              qe.explainString(org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted"))
            }
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$outDir/${n}_$suffix.txt"), plan)
          System.err.println(s"[prof] plan $n -> $outDir/${n}_$suffix.txt")
        } catch { case e: Throwable =>
          System.err.println(s"[prof] plan $n FAILED: ${e.getMessage}")
        }
      }
    }

    if (which.contains("wavjvm")) {
      // plain-JVM contention probe: decode the same WAV payloads from 1
      // vs 32 threads, no Spark involved
      val payloads = Array.tabulate(5000)(i =>
        operators.Multimodal.wavFor(i.toLong, 2048, 32))
      def decodeAll(threads: Int): Double = {
        val t0 = System.nanoTime()
        val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
        val chunk = payloads.grouped(payloads.length / threads + 1).toList
        val futs = chunk.map(c => pool.submit(new Runnable {
          def run(): Unit = c.foreach(b =>
            operators.Multimodal.decodeBytes(b, 32))
        }))
        futs.foreach(_.get())
        pool.shutdown()
        (System.nanoTime() - t0) / 1e9
      }
      for (_ <- 1 to 3) {
        System.err.println(f"[prof] wavjvm.1t  ${decodeAll(1)}%.2f")
        System.err.println(f"[prof] wavjvm.32t ${decodeAll(32)}%.2f")
      }
      if (sys.env.contains("PROF_LONG")) {
        System.err.println("[prof] long 32t loop for jstack...")
        val t0 = System.nanoTime()
        while ((System.nanoTime() - t0) / 1e9 < 30) decodeAll(32)
      }
    }

    if (which.contains("q26ui")) {
      // needs spark.ui.enabled=true: PROF_UI=1 flips the builder conf
      for (i <- 1 to 3) {
        SparkEntry.dropDerivedMemosExcept(spark, Set.empty)
        time(s"q26#$i", 1)(noop(SparkEntry.queries("q26_har_model2_1nn")(spark, sfDir)))
      }
      System.err.println("[prof] sleeping 90s for UI scrape at :4040")
      Thread.sleep(90000)
    }

    if (which.contains("audioab")) {
      import scala.jdk.CollectionConverters._
      val readers = java.util.ServiceLoader.load(
        classOf[javax.sound.sampled.spi.AudioFileReader]).iterator().asScala.toList
      System.err.println("[prof] reader order: " +
        readers.map(_.getClass.getSimpleName).mkString(","))
      val payloads = Array.tabulate(5000)(i =>
        operators.Multimodal.wavFor(i.toLong, 2048, 32))
      def viaLoop(b: Array[Byte]) = {
        val in = new java.io.ByteArrayInputStream(b)
        var out: javax.sound.sampled.AudioInputStream = null
        val it = readers.iterator
        while (out == null && it.hasNext) {
          val r = it.next()
          try out = r.getAudioInputStream(in)
          catch { case _: javax.sound.sampled.UnsupportedAudioFileException => () }
        }
        out.close()
      }
      def viaSystem(b: Array[Byte]) = {
        javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(b)).close()
      }
      val wavReader = readers.find(_.getClass.getSimpleName == "WaveFileReader").get
      def viaDirect(b: Array[Byte]) = {
        wavReader.getAudioInputStream(new java.io.ByteArrayInputStream(b)).close()
      }
      def decodeFull(b: Array[Byte]) = operators.Multimodal.decodeBytes(b, 32)
      for (i <- 1 to 3) {
        time(s"aud.loop#$i", 2)(payloads.foreach(viaLoop))
        time(s"aud.system#$i", 2)(payloads.foreach(viaSystem))
        time(s"aud.direct#$i", 2)(payloads.foreach(viaDirect))
        time(s"aud.decodeFull#$i", 2)(payloads.foreach(decodeFull))
      }
    }

    if (which.contains("q37")) {
      import org.apache.spark.ml.feature.VectorAssembler
      import org.apache.spark.ml.functions.vector_to_array
      val li = t("lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("double"),
          col("l_extendedprice").cast("double"),
          col("l_discount").cast("double"),
          col("l_tax").cast("double"))
      time("q37.scan")(noop(li))
      val assembled = new VectorAssembler()
        .setInputCols(Array("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .setOutputCol("features").setHandleInvalid("skip").transform(li)
      time("q37.scan+assemble")(noop(assembled))
      val arr = vector_to_array(col("features")).cast("array<double>")
      val normed = assembled.select(col("l_orderkey"), col("l_linenumber"),
        round(sqrt(graft.functions.SeriesFunctions.dotProduct(arr, arr)), 6).as("norm"))
      time("q37.scan+assemble+norm")(noop(normed))
      time("q37.full(orderBy)")(noop(normed.orderBy("l_orderkey", "l_linenumber")))
      // variant: norm computed without going through the vector
      val direct = li.select(col("l_orderkey"), col("l_linenumber"),
        round(sqrt(col("l_quantity") * col("l_quantity") +
          col("l_extendedprice") * col("l_extendedprice") +
          col("l_discount") * col("l_discount") +
          col("l_tax") * col("l_tax")), 6).as("norm"))
        .orderBy("l_orderkey", "l_linenumber")
      time("q37.direct-arith(orderBy)")(noop(direct))
    }

    if (which.contains("synthab")) {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
      val docs = t("documents")
      val outSchema = StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("content", BinaryType)))
      val enc = ExpressionEncoder(outSchema)
      def ser(mk: Long => Array[Byte]) =
        docs.select(col("doc_id")).coalesce(1).mapPartitions { rows =>
          rows.map { r => Row(r.getLong(0), mk(r.getLong(0))) }
        }(enc)
      def par(mk: Long => Array[Byte]) =
        operators.Partitioning.spread(docs.select(col("doc_id")))
          .mapPartitions { rows =>
            javax.imageio.ImageIO.setUseCache(false)
            rows.map { r => Row(r.getLong(0), mk(r.getLong(0))) }
          }(enc)
      val mkPng = (id: Long) => operators.Multimodal.pngFor(id, 16, 16, 32)
      val mkWav = (id: Long) => operators.Multimodal.wavFor(id, 2048, 32)
      val mkAvi = (id: Long) => operators.Multimodal.aviFor(id, 6, 16, 16)
      for (i <- 1 to 3) {
        time(s"png.ser#$i", 2)(noop(ser(mkPng)))
        time(s"png.par#$i", 2)(noop(par(mkPng)))
        time(s"wav.ser#$i", 2)(noop(ser(mkWav)))
        time(s"wav.par#$i", 2)(noop(par(mkWav)))
        time(s"avi.ser#$i", 2)(noop(ser(mkAvi)))
        time(s"avi.par#$i", 2)(noop(par(mkAvi)))
      }
      // decode contention: extractFeatures over a 1-partition vs spread table
      def feats(src: DataFrame) = operators.Multimodal.extractFeatures(
        src.withColumnRenamed("content", "content"), "doc_id", "content", dim = 32)
      for (i <- 1 to 3) {
        time(s"wavdec.ser#$i", 2)(noop(feats(ser(mkWav).coalesce(1))))
        time(s"wavdec.par#$i", 2)(noop(feats(par(mkWav))))
        time(s"pngdec.ser#$i", 2)(noop(feats(ser(mkPng).coalesce(1))))
        time(s"pngdec.par#$i", 2)(noop(feats(par(mkPng))))
      }
    }

    if (which.contains("q78prog")) {
      graft.functions.GraftFunctions.register(spark)
      val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val train = e.filter(col("vec_id") % 2 === 0).select(
        col("vec_id").as("train_id"),
        col("embedding").cast("array<double>").as("train_series"),
        col("label"))
      for (i <- 1 to 6) {
        spark.conf.set("spark.graft.spread.streaming", (i % 2 == 1).toString)
        val schema = spark.read.parquet(s"$sfDir/embeddings.parquet").schema
        val stage = graft.core.TempDirs.scratch("prof_knn")
        java.nio.file.Files.copy(
          java.nio.file.Paths.get(s"$sfDir/embeddings.parquet"),
          stage.resolve("embeddings.parquet"))
        val stream0 = spark.readStream.schema(schema).parquet(stage.toString)
          .filter(col("vec_id") % 2 === 1)
          .select(col("vec_id").as("test_id"),
            col("embedding").cast("array<double>").as("test_series"))
        // spread toggle: a REAL stateless repartition of the stream side
        // (the staged file is one split, so the pair loop is one task)
        val stream = if (i % 2 == 1) stream0.repartition(32) else stream0
        val out = graft.streaming.StreamingClassify.classifyStream1NN(
          train, stream, graft.core.KnnParams(distance = "euclidean"))
        val prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        val t0 = System.nanoTime()
        val sq = out.writeStream.outputMode("update").format("memory")
          .queryName(s"prof_knn$i").start()
        sq.processAllAvailable()
        val tMid = System.nanoTime()
        sq.stop()
        val t1 = System.nanoTime()
        sq.recentProgress.foreach { p =>
          System.err.println(s"[prof] q78.batch ${p.batchId} rows=${p.numInputRows} " +
            s"durations=${p.durationMs}")
        }
        spark.catalog.dropTempView(s"prof_knn$i")
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        System.err.println(f"[prof] q78.run#$i spread=${i % 2 == 1} " +
          f"process=${(tMid - t0) / 1e9}%.2f stop=${(t1 - tMid) / 1e9}%.2f")
      }
    }

    if (which.contains("q32bab")) {
      val centers = operators.SimilaritySearch.hyperplanes(32, 32, 3232L)
        .map(_.map(x => 0.5 + 0.25 * x / math.sqrt(32.0 / 12.0)))
      def q32bWith(media: DataFrame): DataFrame = {
        val feats = operators.Multimodal.extractFeatures(
          media, "doc_id", "content", dim = 32).localCheckpoint()
        val queries = feats.filter(col("id") % 10 === 0)
          .select(col("id").as("query_id"), col("features").as("query_vec"))
        val corpus = feats.filter(col("id") % 10 =!= 0)
          .select(col("id").as("item_id"), col("features").as("item_vec"))
        operators.SimilaritySearch.ivfTopKWithCentroids(
          queries, corpus, 5, centers, probes = 4)
          .select(col("query_id"), col("rank"), col("item_id"))
          .orderBy("query_id", "rank")
      }
      val docs = t("documents")
      for (i <- 1 to 3) {
        time(s"q32b.spread#$i", 2) {
          noop(q32bWith(operators.Multimodal.syntheticWavTable(docs)))
        }
        time(s"q32b.coal1#$i", 2) {
          noop(q32bWith(operators.Multimodal.syntheticWavTable(docs).coalesce(1)))
        }
      }
    }

    if (which.contains("q32c")) {
      val docs = t("documents")
      time("q32c.synthAvi") {
        noop(graft.operators.Multimodal.syntheticAviTable(docs, frames = 6))
      }
      time("q32c.synth+decode") {
        noop(graft.operators.Multimodal.sampleFrameFeatures(
          graft.operators.Multimodal.syntheticAviTable(docs, frames = 6),
          "doc_id", "content", everyN = 2, dim = 32))
      }
      time("q32c.full")(noop(SparkEntry.queries("q32c_multimodal_video")(spark, sfDir)))
      time("q32.synthPng") {
        noop(graft.operators.Multimodal.syntheticPngTable(docs))
      }
      time("q32.synth+decode") {
        noop(graft.operators.Multimodal.extractFeatures(
          graft.operators.Multimodal.syntheticPngTable(docs),
          "doc_id", "content", dim = 32))
      }
      time("q32b.synthWav") {
        noop(graft.operators.Multimodal.syntheticWavTable(docs))
      }
      time("q32b.synth+decode") {
        noop(graft.operators.Multimodal.extractFeatures(
          graft.operators.Multimodal.syntheticWavTable(docs),
          "doc_id", "content", dim = 32))
      }
    }

    if (which.contains("q70")) {
      time("q70.full", 3) {
        noop(SparkEntry.queries("q70_stream_interval_join")(spark, sfDir))
      }
      // micro-batch progress detail for one bounded interval-join run
      def side(tag: String, tsAs: String, idAs: String) = {
        val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
        val stage = graft.core.TempDirs.scratch(s"prof_so_$tag")
        java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sfDir/events.parquet"),
          stage.resolve("events.parquet"))
        graft.sources.EventTime.nanos(
          spark.readStream.schema(schema).parquet(stage.toString))
          .withColumn("ts", timestamp_seconds(expr("ts div 1000000000")))
          .filter(col("event_type") === tag)
          .select(col("event_id").as(idAs), col("user_id"), col("ts").as(tsAs))
      }
      val joined = graft.streaming.StreamingClassify.intervalJoin(
        side("click", "click_ts", "click_id"), "click_ts",
        side("view", "view_ts", "view_id"), "view_ts",
        "user_id", "10 minutes", "30 minutes")
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      val t0 = System.nanoTime()
      val sq = joined.writeStream.outputMode("append").format("memory")
        .queryName("prof_q70").start()
      sq.processAllAvailable()
      val t1 = System.nanoTime()
      sq.recentProgress.foreach { p =>
        System.err.println(s"[prof] q70.batch ${p.batchId} rows=${p.numInputRows} " +
          s"durations=${p.durationMs}")
      }
      sq.stop()
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      System.err.println(f"[prof] q70.manual total ${(t1 - t0) / 1e9}%.2f s")
      time("q67.full", 3) {
        noop(SparkEntry.queries("q67_stream_window")(spark, sfDir))
      }
      time("q78.full", 3) {
        noop(SparkEntry.queries("q78_stream_knn")(spark, sfDir))
      }
    }

    if (which.contains("stagedump")) {
      // per-stage wall/CPU/task-count dump for one fused-cascade run
      val (train, testAll, _) = SparkEntry.harWorkload(spark, sfDir)
      val testSel = testAll.select(col("test_id"), col("test_series"))
      val trainSel = train.select(col("train_id"), col("train_series"), col("label"))
      val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val lsn = new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          val wall = (si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)) / 1e3
          val cpu = si.taskMetrics.executorCpuTime / 1e9
          val rt = si.taskMetrics.executorRunTime / 1e3
          stages.add(f"stage=${si.stageId} tasks=${si.numTasks} wall=$wall%.2f run=$rt%.2f cpu=$cpu%.2f ${si.name.take(60)}")
        }
      }
      spark.sparkContext.addSparkListener(lsn)
      // warm run, then measured run with stage dump
      noop(fusedCands(testSel, trainSel, 40, 8))
      stages.clear()
      time("q25.cands.measured", 1)(noop(fusedCands(testSel, trainSel, 40, 8)))
      import scala.jdk.CollectionConverters._
      stages.asScala.foreach(s => System.err.println(s"[prof] $s"))
    }

    if (which.contains("knnphase")) {
      // fused-cascade phase attribution (r22): candidate scan alone, +
      // exact phase, + full query
      import graft.functions.SeriesFunctions
      val (train, testAll, _) = SparkEntry.harWorkload(spark, sfDir)
      val testSel = testAll.select(col("test_id"), col("test_series"))
      val trainSel = train.select(col("train_id"), col("train_series"), col("label"))
      def exact(c: DataFrame, band: Int): DataFrame = c
        .select(col("test_id"), col("test_series"),
          explode(col("cand_ids")).as("train_id"))
        .join(broadcast(trainSel), "train_id")
        .withColumn("dist", SeriesFunctions.barrier(
          SeriesFunctions.dtw(col("test_series"), col("train_series"), band)))
      time("q25.cands(fk=40,c=8)", 3)(noop(fusedCands(testSel, trainSel, 40, 8)))
      time("q25.exact(band=8)", 3)(noop(exact(fusedCands(testSel, trainSel, 40, 8), 8)))
      time("q26.cands(fk=16,c=8)", 3)(noop(fusedCands(testSel, trainSel, 16, 8)))
      time("q26.exact(band=56)", 3)(noop(exact(fusedCands(testSel, trainSel, 16, 8), 56)))
      time("q25.full", 3) {
        SparkEntry.dropDerivedMemosExcept(spark, Set.empty)
        noop(SparkEntry.queries("q25_knn_dtw_pruned")(spark, sfDir))
      }
      time("q26.full", 3) {
        SparkEntry.dropDerivedMemosExcept(spark, Set.empty)
        noop(SparkEntry.queries("q26_har_model2_1nn")(spark, sfDir))
      }
    }

    if (which.contains("q78stages")) {
      // stage-level attribution of one spread q78 micro-batch
      val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          val wall = (si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)) / 1e3
          val cpu = si.taskMetrics.executorCpuTime / 1e9
          val rt = si.taskMetrics.executorRunTime / 1e3
          stages.add(f"stage=${si.stageId} tasks=${si.numTasks} wall=$wall%.2f run=$rt%.2f cpu=$cpu%.2f ${si.name.take(70)}")
        }
      })
      // warm
      noop(SparkEntry.queries("q78_stream_knn")(spark, sfDir))
      stages.clear()
      time("q78.measured", 1)(noop(SparkEntry.queries("q78_stream_knn")(spark, sfDir)))
      import scala.jdk.CollectionConverters._
      stages.asScala.foreach(s => System.err.println(s"[prof] $s"))
    }

    if (which.contains("codegencount")) {
      // does every bounded replay recompile generated code? per-run delta
      // of the global codegen compile metrics
      import org.apache.spark.metrics.source.CodegenMetrics
      def snap(): (Long, Long) = (
        CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getCount,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
      for (q <- Seq("q78_stream_knn", "q78_stream_knn", "q78_stream_knn",
        "q70_stream_interval_join", "q70_stream_interval_join",
        "q67_stream_window", "q67_stream_window",
        "q25_knn_dtw_pruned", "q25_knn_dtw_pruned")) {
        val (s0, c0) = snap()
        val t0 = System.nanoTime()
        SparkEntry.dropDerivedMemosExcept(spark, Set.empty)
        noop(SparkEntry.queries(q)(spark, sfDir))
        val dt = (System.nanoTime() - t0) / 1e9
        val (s1, c1) = snap()
        System.err.println(f"[prof] $q%-26s ${dt}%5.2fs compiles=${c1 - c0} srcBytes=${s1 - s0}")
      }
    }

    if (which.contains("imgread")) {
      // plain-JVM A/B: per-call ImageIO.getImageReaders (registry scan +
      // new reader instance per payload) vs per-thread spi+reader cache
      javax.imageio.ImageIO.setUseCache(false)
      val payloads = Array.tabulate(5000)(i =>
        operators.Multimodal.pngFor(i.toLong, 16, 16, 32))
      def viaRegistry(b: Array[Byte]): Int = {
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(b))
        try {
          val rs = javax.imageio.ImageIO.getImageReaders(iis)
          val r = rs.next()
          try { r.setInput(iis, true, true); r.getWidth(0) }
          finally r.dispose()
        } finally iis.close()
      }
      val spisTL = new ThreadLocal[Array[(javax.imageio.spi.ImageReaderSpi, javax.imageio.ImageReader)]] {
        override def initialValue() = {
          import scala.jdk.CollectionConverters._
          javax.imageio.spi.IIORegistry.getDefaultInstance
            .getServiceProviders(classOf[javax.imageio.spi.ImageReaderSpi], true)
            .asScala.map(spi => (spi, spi.createReaderInstance())).toArray
        }
      }
      def viaCache(b: Array[Byte]): Int = {
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(b))
        try {
          val spis = spisTL.get()
          var i = 0
          while (i < spis.length) {
            val (spi, reader) = spis(i)
            iis.seek(0)
            if (spi.canDecodeInput(iis)) {
              iis.seek(0)
              reader.setInput(iis, true, true)
              try return reader.getWidth(0)
              finally reader.reset()
            }
            i += 1
          }
          -1
        } finally iis.close()
      }
      def run(tag: String, f: Array[Byte] => Int, threads: Int): Unit =
        time(f"img.$tag.${threads}t", 2) {
          val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
          val futs = payloads.grouped(payloads.length / threads + 1).toList
            .map(c => pool.submit(new Runnable {
              def run(): Unit = c.foreach(f)
            }))
          futs.foreach(_.get()); pool.shutdown()
        }
      for (_ <- 1 to 3) {
        run("registry", viaRegistry, 1)
        run("cache", viaCache, 1)
        run("registry", viaRegistry, 32)
        run("cache", viaCache, 32)
      }
      // full decode (header + raster) variants for realism
      def fullVia(f: Array[Byte] => Int): Unit = payloads.foreach(f)
      val _ = fullVia _
    }

    if (which.contains("textab")) {
      // interleaved A/B: kernels above orderBy (AQE-coalesced, often 1
      // post-sort partition) vs above repartitionByRange(n)+sortWithin
      import graft.functions.{SeriesFunctions, TextFunctions}
      val base = t("documents").select(col("doc_id"), col("text"))
      def kernels(d: DataFrame): DataFrame = {
        val aug = when(pmod(col("doc_id"), lit(3)) === 0,
          concat(col("text"), lit(" contact user"),
            col("doc_id").cast("string"),
            lit("@mail.example.com srv 10.0.1.2 call 555-123-4567")))
          .otherwise(col("text"))
        d.select(col("doc_id"),
          TextFunctions.redactPii(aug).as("clean_text"),
          round(TextFunctions.stopwordRatio(col("text")), 6).as("stop_ratio"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"))
      }
      def viaOrderBy = kernels(base.orderBy("doc_id"))
      def viaRange = kernels(
        base.repartitionByRange(32, col("doc_id")).sortWithinPartitions("doc_id"))
      for (i <- 1 to 3) {
        time(s"text.orderBy#$i", 3)(noop(viaOrderBy))
        time(s"text.range#$i", 3)(noop(viaRange))
      }
    }

    if (which.contains("q71prog")) {
      // q71 micro-batch + stage attribution
      val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          val wall = (si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)) / 1e3
          val cpu = si.taskMetrics.executorCpuTime / 1e9
          val rt = si.taskMetrics.executorRunTime / 1e3
          stages.add(f"stage=${si.stageId} tasks=${si.numTasks} wall=$wall%.2f run=$rt%.2f cpu=$cpu%.2f ${si.name.take(60)}")
        }
      })
      val target = sys.env.getOrElse("PROF_Q", "q71_stream_asof")
      noop(SparkEntry.queries(target)(spark, sfDir)) // warm
      stages.clear()
      time(s"$target.measured", 1)(noop(SparkEntry.queries(target)(spark, sfDir)))
      import scala.jdk.CollectionConverters._
      stages.asScala.foreach(s => System.err.println(s"[prof] $s"))
      time(s"$target.more", 3)(noop(SparkEntry.queries(target)(spark, sfDir)))
    }

    if (which.contains("q78jstack")) {
      // sample executor task stacks during the replay to find the
      // state-store stage's blocking (run >> cpu)
      noop(SparkEntry.queries(sys.env.getOrElse("PROF_Q", "q78_stream_knn"))(spark, sfDir)) // warm
      val samples = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val sampler = new Thread(() => {
        var n = 0
        while (n < 120) {
          Thread.sleep(25)
          val stacks = Thread.getAllStackTraces()
          stacks.forEach { (t, st) =>
            if (t.getName.startsWith("Executor task launch") && st.nonEmpty) {
              val top = st.take(6).map(_.toString).mkString(" <- ")
              samples.add(s"${t.getState} $top")
            }
          }
          n += 1
        }
      })
      sampler.setDaemon(true)
      sampler.start()
      time("sampled", 1)(noop(SparkEntry.queries(sys.env.getOrElse("PROF_Q", "q78_stream_knn"))(spark, sfDir)))
      import scala.jdk.CollectionConverters._
      samples.asScala.groupBy(identity).toSeq.sortBy(-_._2.size).take(18)
        .foreach { case (s, g) =>
          System.err.println(s"[prof] x${g.size} ${s.take(420)}")
        }
    }

    if (which.contains("streamparts")) {
      // A/B the bounded replay's state-partition count (the replay owns
      // spark.sql.shuffle.partitions for its run; currently 8)
      for (parts <- Seq("8", "4", "2", "8", "4", "2")) {
        spark.conf.set("spark.graft.stream.replayPartitions", parts)
        time(s"q70.parts=$parts", 2) {
          noop(SparkEntry.queries("q70_stream_interval_join")(spark, sfDir))
        }
        time(s"q67.parts=$parts", 2) {
          noop(SparkEntry.queries("q67_stream_window")(spark, sfDir))
        }
        time(s"q78.parts=$parts", 2) {
          noop(SparkEntry.queries("q78_stream_knn")(spark, sfDir))
        }
      }
    }

    if (which.contains("q25")) {
      time("q25.full", 5) {
        SparkEntry.dropDerivedMemosExcept(spark, Set.empty)
        noop(SparkEntry.queries("q25_knn_dtw_pruned")(spark, sfDir))
      }
      time("q26.full", 5) {
        SparkEntry.dropDerivedMemosExcept(spark, Set.empty)
        noop(SparkEntry.queries("q26_har_model2_1nn")(spark, sfDir))
      }
    }

    spark.stop()
  }
}
