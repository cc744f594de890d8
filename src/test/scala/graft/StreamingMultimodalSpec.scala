package graft

import graft.core.KnnParams
import graft.operators.Multimodal
import graft.streaming.StreamingClassify
import org.apache.spark.sql.functions._

class StreamingMultimodalSpec extends SparkTestBase {

  test("streaming 1-NN classification matches the batch path") {
    val streamed = StreamingClassify.runBoundedSmoke(spark, sf001,
      KnnParams(distance = "euclidean"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val batch = SparkEntry.queries("q9_knn_eu_k1")(spark, sf001)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(streamed === batch)
  }

  test("streaming pruned DTW 1-NN plans the candidate node and matches the batch path") {
    // a streaming test side always streams through the candidate node
    // over the broadcast train side, planned in the query's cloned session
    val p = KnnParams(distance = "dtw", band = 8, lbPruning = true, coarsenFactor = 4)
    val streamed = StreamingClassify.runBoundedSmoke(spark, sf001, p)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2))).toMap
    val e = spark.read.parquet(s"$sf001/embeddings.parquet")
    def side(parity: Int, id: String, series: String) = e.filter(col("vec_id") % 2 === parity)
      .select(col("vec_id").as(id), col("embedding").cast("array<double>").as(series), col("label"))
    val batchDf = graft.operators.Knn.classify1NN(
      side(0, "train_id", "train_series"), side(1, "test_id", "test_series").drop("label"), p)
    assert(candidateBuildSides(batchDf) === Seq("train"))
    val batch = batchDf.collect().map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2))).toMap
    assert(streamed.nonEmpty && streamed === batch)
  }

  test("windowed event stats: watermarked event-time aggregation plan builds") {
    // events ts is nanos-as-long in our sessions; synthesize timestamps
    import spark.implicits._
    val ev = Seq(
      ("2024-01-01 00:00:10", "click", 1.0),
      ("2024-01-01 00:01:10", "click", 3.0),
      ("2024-01-01 00:07:10", "view", 5.0)
    ).toDF("ts_s", "event_type", "value")
      .select(to_timestamp($"ts_s").as("ts"), $"event_type", $"value")
    val out = StreamingClassify.windowedEventStats(ev, "10 minutes", "5 minutes")
    val rows = out.collect()
    assert(rows.length === 2) // two 5-min windows
    assert(rows.map(_.getLong(2)).sum === 3L)
  }

  test("stateful streaming: running per-user stats accumulate across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, Double)]
    val out = StreamingClassify.runningUserStatsCents(
      input.toDF().toDF("user_id", "value"))
    val qname = s"running_stats_${System.nanoTime()}"
    val q = out.writeStream.outputMode("update").format("memory")
      .queryName(qname).start()
    input.addData((1L, 2.0), (1L, 3.0), (2L, 10.0))
    q.processAllAvailable()
    val afterBatch1 = spark.table(qname).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(afterBatch1(1L) === ((2L, 5.0)) && afterBatch1(2L) === ((1L, 10.0)))
    input.addData((1L, 5.0))
    q.processAllAvailable()
    q.stop()
    // update mode: latest row per user carries accumulated state
    val latest = spark.table(qname).collect()
      .groupBy(_.getLong(0)).map { case (u, rows) =>
        u -> rows.map(r => (r.getLong(1), r.getDouble(2))).maxBy(_._1)
      }
    assert(latest(1L) === ((3L, 10.0)))
    assert(latest(2L) === ((1L, 10.0)))
  }

  test("streaming dedup suppresses duplicate content across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, String, String)]
    val stream = input.toDF().toDF("doc_id", "text", "ts_s")
      .select($"doc_id", $"text", to_timestamp($"ts_s").as("ts"))
    val out = StreamingClassify.dedupStreamByContent(stream, "text", "ts", "10 minutes")
    val qname = s"dedup_stream_${System.nanoTime()}"
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName(qname).start()
    input.addData(
      (1L, "the quick brown fox", "2024-01-01 00:00:01"),
      (2L, "the quick brown fox", "2024-01-01 00:00:02"), // dup within batch
      (3L, "something else entirely", "2024-01-01 00:00:03"))
    q.processAllAvailable()
    input.addData(
      (4L, "the quick brown fox", "2024-01-01 00:01:00"), // dup across batches
      (5L, "a genuinely new document", "2024-01-01 00:01:01"))
    q.processAllAvailable()
    q.stop()
    val kept = spark.table(qname).collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 3L, 5L)) // 2 and 4 suppressed
  }

  test("multimodal: extractFeatures is deterministic with declared schema") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet").limit(50)
    val media = Multimodal.syntheticMediaTable(docs)
    val f1 = Multimodal.extractFeatures(media, "doc_id", "content", dim = 16)
    assert(f1.schema.fieldNames.toSeq === Seq("id", "features"))
    val a = f1.orderBy("id").collect().map(r => r.getLong(0) -> r.getSeq[Float](1))
    val b = Multimodal.extractFeatures(media, "doc_id", "content", dim = 16)
      .orderBy("id").collect().map(r => r.getLong(0) -> r.getSeq[Float](1))
    assert(a === b)
    assert(a.forall(_._2.length == 16))
    // different payloads -> different features (no degenerate constant)
    assert(a.map(_._2).distinct.length > 1)
  }

  test("multimodal resize: meta.format flips to image/png exactly where " +
      "the re-encode fired; passthrough rows keep bytes and format") {
    import spark.implicits._
    val jpeg = {
      val img = new java.awt.image.BufferedImage(
        16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    val noise = Array.tabulate(64)(_.toByte)
    val rows = Seq(
      (1L, jpeg, ("image/jpeg", 16, 16, 0L)),
      (2L, noise, ("application/noise", 0, 0, 0L)))
      .toDF("id", "content", "meta")
      .withColumn("meta", col("meta").cast(
        "struct<format:string,width:int,height:int,duration_ms:bigint>"))
    val out = Multimodal.resize(rows, "content", "meta", 8, 8)
      .orderBy("id").collect()
    val pngMagic = Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte)
    // decodable row: payload is now a PNG and the metadata says so
    assert(out(0).getAs[Array[Byte]]("content").take(4).toSeq === pngMagic.toSeq)
    assert(out(0).getStruct(2).getString(0) === "image/png",
      "a re-encoded payload must not keep metadata naming the old container")
    assert(out(0).getStruct(2).getInt(1) === 8 && out(0).getStruct(2).getInt(2) === 8)
    // passthrough row: bytes untouched, format untouched, dims updated
    assert(out(1).getAs[Array[Byte]]("content").toSeq === noise.toSeq)
    assert(out(1).getStruct(2).getString(0) === "application/noise")
    assert(out(1).getStruct(2).getInt(1) === 8 && out(1).getStruct(2).getInt(2) === 8)
  }

  test("multimodal id contract: null ids DROP everywhere, uncastable ids " +
      "throw loudly (ANSI-cast parity with the DuckDB oracles)") {
    import spark.implicits._
    // string-typed ids: "7"/"9" castable, null drops, no uncastable yet.
    // AVI payload so the frame sampler emits rows too (the generators
    // and extractFeatures accept any bytes).
    val aviBytes = Multimodal.aviFor(7L, 2, 16, 16)
    val withNull = Seq(("7", aviBytes), (null: String, aviBytes),
      ("9", aviBytes)).toDF("doc_id", "content")
    val gens = Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame](
      d => Multimodal.syntheticPngTable(d),
      d => Multimodal.syntheticWavTable(d),
      d => Multimodal.syntheticAviTable(d, frames = 2),
      d => Multimodal.extractFeatures(d, "doc_id", "content", dim = 8),
      d => Multimodal.sampleFrameFeatures(d, "doc_id", "content", everyN = 1, dim = 8))
    for (g <- gens) {
      val ids = g(withNull).select(col(g(withNull).columns.head))
        .collect().map(_.getLong(0)).distinct.sorted
      assert(ids.toSeq === Seq(7L, 9L),
        "a genuinely-null id must drop the row, nothing else")
    }
    // an id the BIGINT cast nulls out must FAIL the job (DuckDB's
    // CAST(doc_id AS BIGINT) throws on it; silent drop would diverge)
    val uncastable = Seq(("7", aviBytes), ("not-a-number", aviBytes))
      .toDF("doc_id", "content")
    for (g <- gens) {
      val e = intercept[Exception] { g(uncastable).collect() }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Seq.empty
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      // ANSI sessions (Spark 4 default): the cast itself throws
      // CAST_INVALID_INPUT; non-ANSI sessions: idAs's raise_error branch
      // fires. Either way the failure is LOUD, never a silent drop.
      assert(msgs(e).exists(m => m.contains("not castable to BIGINT") ||
          m.contains("CAST_INVALID_INPUT")),
        s"expected a loud id-cast failure, got: ${e.getMessage}")
    }
    // non-ANSI session: the cast NULLS OUT instead of throwing, which is
    // exactly the silent-drop hazard — the raise_error branch must fire.
    // Without this sub-case that branch is dead code under the ANSI test
    // default and a mutation deleting it would survive the suite.
    val ansiWas = spark.conf.get("spark.sql.ansi.enabled", "true")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      for (g <- gens) {
        val e = intercept[Exception] { g(uncastable).collect() }
        def msgs(t: Throwable): Seq[String] =
          if (t == null) Seq.empty
          else Option(t.getMessage).toSeq ++ msgs(t.getCause)
        assert(msgs(e).exists(_.contains("not castable to BIGINT")),
          s"non-ANSI: expected the raise_error branch, got: ${e.getMessage}")
      }
    } finally spark.conf.set("spark.sql.ansi.enabled", ansiWas)
  }

  test("stream-stream interval join: matches within bound, drops outside") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val clicks = MemoryStream[(Long, String)]
    val views = MemoryStream[(Long, String)]
    val c = clicks.toDF().toDF("user_id", "ts_s")
      .select($"user_id", to_timestamp($"ts_s").as("click_ts"))
    val v = views.toDF().toDF("user_id", "ts_s")
      .select($"user_id", to_timestamp($"ts_s").as("view_ts"))
    val out = StreamingClassify.intervalJoin(
      c, "click_ts", v, "view_ts", "user_id", "10 minutes", "2 minutes")
    val qname = s"ssj_${System.nanoTime()}"
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName(qname).start()
    clicks.addData((1L, "2024-01-01 00:10:00"), (2L, "2024-01-01 00:10:00"))
    views.addData(
      (1L, "2024-01-01 00:11:00"), // within 2 min -> match
      (2L, "2024-01-01 00:20:00"), // 10 min away -> no match
      (3L, "2024-01-01 00:10:30")) // no click for user 3
    q.processAllAvailable()
    q.stop()
    val matched = spark.table(qname).collect().map(_.getLong(0)).toSet
    assert(matched === Set(1L))
  }

  test("streaming as-of enrichment: within-batch order exact, state carries across batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val probes = MemoryStream[(Long, Long, Long)]     // (id, key, ts)
    val refs = MemoryStream[(Long, Long, Double)]     // (key, ts, value)
    val out = StreamingClassify.asofEnrichStream(
      probes.toDF().toDF("id", "key", "ts"),
      refs.toDF().toDF("key", "ts", "value"))
    val qname = s"asof_${System.nanoTime()}"
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName(qname).start()
    // batch 1: ref at ts=10 arrives WITH probes before and after it
    refs.addData((1L, 10L, 1.5))
    probes.addData((100L, 1L, 5L), (101L, 1L, 20L))
    q.processAllAvailable()
    // batch 2: probe sees batch-1 state; stale ref (ts=8) must not clobber
    refs.addData((1L, 8L, 9.9))
    probes.addData((102L, 1L, 30L), (103L, 2L, 30L))
    q.processAllAvailable()
    q.stop()
    val got = spark.table(qname).collect()
      .map(r => r.getLong(0) -> Option(r.get(3)).map(_ => r.getDouble(3))).toMap
    assert(got(100L) === None)        // probe ts=5 precedes the ts=10 ref
    assert(got(101L) === Some(1.5))   // same-batch ref visible in ts order
    assert(got(102L) === Some(1.5))   // state carried; stale ref ignored
    assert(got(103L) === None)        // key with no reference
  }

  test("q32 multimodal -> ANN: deterministic, k results per query") {
    val a = SparkEntry.queries("q32_multimodal_ann")(spark, sf001).collect()
    val b = SparkEntry.queries("q32_multimodal_ann")(spark, sf001).collect()
    assert(a.nonEmpty)
    assert(a.map(_.toString).toSeq === b.map(_.toString).toSeq)
    val perQuery = a.groupBy(_.getLong(0)).values.map(_.length).toSet
    assert(perQuery === Set(5)) // exactly k rows per query
  }

  test("WAV codec closed form: decode(encode) recovers the block amplitudes exactly") {
    // 2048 samples / 32 blocks = 64 samples per block, block-constant
    // amplitude v = splitmix64(id, block) as int16 — lossless PCM means
    // the block-mean feature is exactly ((v/32768)+1)/2
    for (id <- Seq(0L, 1L, 7L, 123L)) {
      val bytes = Multimodal.wavFor(id, 2048, 32)
      assert(bytes.length > 44, "RIFF header + payload expected")
      val feats = Multimodal.decodeBytes(bytes, 32)
      assert(feats.length === 32)
      for (block <- 0 until 32) {
        var z = id * -7046029254386353131L + block * -4417276706812531889L
        z = (z ^ (z >>> 30)) * -4658895280553007687L
        z = (z ^ (z >>> 27)) * -7723592293110705685L
        z ^= (z >>> 31)
        val v = (z & 0xFFFFL).toShort
        val expect = ((v / 32768.0) + 1.0) / 2.0
        assert(math.abs(feats(block) - expect) < 1e-6,
          s"id=$id block=$block got=${feats(block)} want=$expect")
      }
    }
  }

  test("oracle closed forms: PNG LUT and WAV dyadic feature match the real decode bit-exactly") {
    // The q32/q32b DuckDB oracles derive features from (doc_id, block)
    // instead of decoding the binary: PNG via the captured gray→sRGB
    // round-trip LUT, WAV via ((s16 XOR 0x8000)/65536. This pins those
    // closed forms against the REAL codec path at full bit precision —
    // if either drifts (JDK color table change, decode refactor), this
    // fails before the driver's hash gate does.
    def smix(id: Long, block: Long): Long = {
      var z = id * -7046029254386353131L + block * -4417276706812531889L
      z = (z ^ (z >>> 30)) * -4658895280553007687L
      z = (z ^ (z >>> 27)) * -7723592293110705685L
      z ^ (z >>> 31)
    }
    for (id <- Seq(0L, 1L, 7L, 123L, 99991L)) {
      val png = Multimodal.decodeBytes(Multimodal.pngFor(id, 16, 16, 32), 32)
      val wav = Multimodal.decodeBytes(Multimodal.wavFor(id, 2048, 32), 32)
      for (b <- 0 until 32) {
        val z = smix(id, b)
        assert(png(b) === Multimodal.pngGrayFeatureLut((z & 0xFF).toInt).toFloat,
          s"png id=$id block=$b")
        assert(wav(b) === (((z & 0xFFFFL) ^ 0x8000L).toDouble / 65536.0).toFloat,
          s"wav id=$id block=$b")
      }
    }
  }

  test("r21 audio SPI bypass: wavFor bytes round-trip byte-identical through AudioSystem") {
    // wavFor now writes through the ServiceLoader-cached provider
    // (Multimodal.audioWriters) instead of AudioSystem.write's
    // synchronized per-call registry lookup. Same provider => same
    // bytes: decoding the payload with the REGISTRY path
    // (AudioSystem.getAudioInputStream) and re-encoding it with
    // AudioSystem.write must reproduce the payload exactly — if the
    // bypass ever selected a different writer or format, the container
    // bytes would differ here before any feature drifted.
    for (id <- Seq(0L, 5L, 123L)) {
      val fast = Multimodal.wavFor(id, 2048, 32)
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(fast))
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      assert(bos.toByteArray.toSeq === fast.toSeq, s"id=$id")
    }
  }

  test("WAV decode degrades on corrupt payload instead of failing") {
    val good = Multimodal.wavFor(9L, 2048, 32)
    val corrupt = good.take(60) // truncated mid-header/payload
    val f = Multimodal.decodeBytes(corrupt, 32)
    assert(f.length === 32) // deterministic fallback, no throw
    val f2 = Multimodal.decodeBytes(corrupt, 32)
    assert(f.toSeq === f2.toSeq)
  }

  test("q32b multimodal WAV -> ANN: deterministic, k results per query") {
    val a = SparkEntry.queries("q32b_multimodal_wav")(spark, sf001).collect()
    val b = SparkEntry.queries("q32b_multimodal_wav")(spark, sf001).collect()
    assert(a.nonEmpty)
    assert(a.map(_.toString).toSeq === b.map(_.toString).toSeq)
    val perQuery = a.groupBy(_.getLong(0)).values.map(_.length).toSet
    assert(perQuery === Set(5)) // exactly k rows per query
  }

  test("multimodal: resize updates metadata; sampleFrames explodes by duration") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet").limit(5)
    val media = Multimodal.syntheticMediaTable(docs)
    // non-image payloads: passthrough bytes, metadata still updates
    val resized = Multimodal.resize(media, "content", "meta", 224, 224)
    resized.select("meta.width", "meta.height").collect()
      .foreach(r => assert(r.getInt(0) === 224 && r.getInt(1) === 224))
    val frames = Multimodal.sampleFrames(media, "doc_id", "meta", 1000L)
    val counts = frames.groupBy("id").count().collect()
    assert(counts.forall(_.getLong(1) >= 1))
    // frame count == ceil(duration/1000) per row
    val durations = media.select(col("doc_id"), col("meta.duration_ms")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    counts.foreach { r =>
      val expect = (durations(r.getLong(0)) + 999) / 1000
      assert(r.getLong(1) === expect, s"id=${r.getLong(0)}")
    }
  }

  test("sampleFrames: dirty metadata duration hits the frame budget loudly") {
    import spark.implicits._
    // a year-long "video" among sane rows: the budget must name the id
    // instead of sequence dying opaquely (or allocating a ~3e7-element
    // array in one row)
    val meta = Seq(
      (1L, 5000L), (2L, 365L * 86400000L)).toDF("doc_id", "duration_ms")
      .select(col("doc_id"), struct(col("duration_ms")).as("meta"))
    val e = intercept[Exception] {
      Multimodal.sampleFrames(meta, "doc_id", "meta", 1000L,
        maxFramesPerItem = 100L).count()
    }
    val msg = String.valueOf(e.getMessage) +
      Option(e.getCause).map(c => String.valueOf(c.getMessage)).getOrElse("")
    assert(msg.contains("sampleFrames") && msg.contains("2") &&
      msg.contains("maxFramesPerItem"), s"unhelpful error: $msg")
    // explicit opt-in drops the dirty row, keeps the sane one intact
    val kept = Multimodal.sampleFrames(meta, "doc_id", "meta", 1000L,
      maxFramesPerItem = 100L, skipOversizedItems = true)
      .groupBy("id").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kept === Map(1L -> 5L))
  }

  test("sampleFrames: degenerate durations emit ONE frame and the budget counts it") {
    import spark.implicits._
    // Contract pin: a 0/null/negative duration still emits the
    // frame_ms=0 frame (sequence(0, 0) is one element), and the budget
    // counts that actual emitted cardinality — ceil(dur/every) alone
    // said 0 frames for these rows, so skipOversizedItems kept rows the
    // count claimed were empty and the loud path under-reported by one.
    val meta = Seq(
      (1L, Some(0L)), (2L, None), (3L, Some(-7L)), (4L, Some(1500L)))
      .toDF("doc_id", "duration_ms")
      .select(col("doc_id"), struct(col("duration_ms")).as("meta"))
    // maxFramesPerItem = 1: every degenerate row fits exactly (counted
    // as 1, not 0); the 2-frame row is the only violation and names
    // itself in the error
    val e = intercept[Exception] {
      Multimodal.sampleFrames(meta, "doc_id", "meta", 1000L,
        maxFramesPerItem = 1L).count()
    }
    val msg = String.valueOf(e.getMessage) +
      Option(e.getCause).map(c => String.valueOf(c.getMessage)).getOrElse("")
    assert(msg.contains("sampleFrames") && msg.contains("4"), s"unhelpful error: $msg")
    val kept = Multimodal.sampleFrames(meta, "doc_id", "meta", 1000L,
      maxFramesPerItem = 1L, skipOversizedItems = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(kept.sorted.toSeq === Seq(1L -> 0L, 2L -> 0L, 3L -> 0L),
      "each degenerate row emits exactly one frame at frame_ms=0")
    // and without a budget squeeze the sane row still explodes normally
    val full = Multimodal.sampleFrames(meta, "doc_id", "meta", 1000L)
      .groupBy("id").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(full === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 2L))
  }

  test("resize, for real: image payloads re-encode at the target size") {
    val png = Multimodal.pngFor(5L, 16, 16, 32)
    val small = Multimodal.resizeImageBytes(png, 8, 8)
    assert(small.isDefined)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(small.get))
    assert(img.getWidth === 8 && img.getHeight === 8)
    // downscale of a block-constant image preserves the overall mean
    val before = Multimodal.decodeBytes(png, 1)(0)
    val after = Multimodal.decodeBytes(small.get, 1)(0)
    assert(math.abs(before - after) < 0.02, s"mean drifted: $before -> $after")
    // non-image bytes: None (operator passes payload through)
    assert(Multimodal.resizeImageBytes("not an image, just text".getBytes, 8, 8).isEmpty)
  }

  test("AVI round-trip: container walk recovers every MJPEG frame at full size") {
    val avi = Multimodal.aviFor(3L, frames = 6, w = 16, h = 16)
    val frames = Multimodal.decodeAviFrames(avi)
    assert(frames.isDefined && frames.get.length === 6)
    frames.get.foreach(f => assert(f.getWidth === 16 && f.getHeight === 16))
    // frames genuinely differ (frame index is folded into the pixel seed)
    val means = frames.get.map(f => Multimodal.imageBlockMeans(f, 1).get(0))
    assert(means.distinct.length > 1)
    // deterministic encode: byte-identical across calls in one JVM
    assert(avi.toSeq === Multimodal.aviFor(3L, 6, 16, 16).toSeq)
  }

  test("MJPEG DC-exactness: decoded frames equal the splitmix64 tile grays bit-for-bit") {
    // The q32c oracle's foundation: aviFor's frames are 8x8-tile-constant,
    // so every JPEG macroblock is DC-only and the JDK round-trip is
    // IDENTITY on the tile grays. If a JDK change ever breaks this, the
    // oracle breaks with it — this test fails first.
    def mix(seed: Long, tile: Int): Int = {
      var z = seed * -7046029254386353131L + tile * -4417276706812531889L
      z = (z ^ (z >>> 30)) * -4658895280553007687L
      z = (z ^ (z >>> 27)) * -7723592293110705685L
      z ^= (z >>> 31)
      (z & 0xFF).toInt
    }
    for (id <- Seq(0L, 7L, 123L, 4999L, 9000123L)) {
      val frames = Multimodal.decodeAviFrames(Multimodal.aviFor(id, 6, 16, 16)).get
      frames.zipWithIndex.foreach { case (img, f) =>
        val seed = id * 1000003L + f
        for (y <- 0 until 16; x <- 0 until 16) {
          val tile = (y / 8) * 2 + (x / 8)
          assert(img.getRaster.getSample(x, y, 0) === mix(seed, tile),
            s"id=$id f=$f ($x,$y)")
        }
      }
    }
    // ... and the feature kernel over those frames matches the captured
    // JPEG LUT bit-for-bit (dim=32 half-row blocks each sit inside one
    // tile), which is exactly what the q32c oracle replays.
    val frames = Multimodal.decodeAviFrames(Multimodal.aviFor(77L, 2, 16, 16)).get
    frames.zipWithIndex.foreach { case (img, f) =>
      val seed = 77L * 1000003L + f
      val feats = Multimodal.imageBlockMeans(img, 32).get
      for (d <- 0 until 32) {
        val tile = (d / 16) * 2 + (d % 2)
        val expect = Multimodal.jpegGrayFeatureLut(mix(seed, tile)).toFloat
        assert(feats(d) === expect, s"f=$f d=$d")
      }
    }
  }

  test("AVI decode degrades: truncated container and non-video bytes never throw") {
    val avi = Multimodal.aviFor(4L, 4, 16, 16)
    assert(Multimodal.decodeAviFrames(avi.take(40)).isEmpty)
    assert(Multimodal.decodeAviFrames("RIFFxxxxAVI corrupted".getBytes).isEmpty)
    // whole-video features fall back deterministically via decodeBytes
    val f1 = Multimodal.decodeBytes(avi.take(40), 16)
    val f2 = Multimodal.decodeBytes(avi.take(40), 16)
    assert(f1.toSeq === f2.toSeq && f1.length === 16)
  }

  test("whole-video decodeBytes: mean of per-frame features, id-sensitive") {
    val a = Multimodal.decodeBytes(Multimodal.aviFor(1L, 4, 16, 16), 32)
    val a2 = Multimodal.decodeBytes(Multimodal.aviFor(1L, 4, 16, 16), 32)
    val b = Multimodal.decodeBytes(Multimodal.aviFor(2L, 4, 16, 16), 32)
    assert(a.toSeq === a2.toSeq)
    assert(a.toSeq !== b.toSeq)
    assert(a.forall(v => v >= 0f && v <= 1f))
  }

  test("sampleFrameFeatures: every-Nth frame rows with real decoded features") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet").limit(4)
    val media = Multimodal.syntheticAviTable(docs, frames = 6)
    val out = Multimodal.sampleFrameFeatures(media, "doc_id", "content",
      everyN = 2, dim = 16).collect()
    // 4 docs x frames {0, 2, 4}
    assert(out.length === 12)
    val perDoc = out.groupBy(_.getLong(0))
    assert(perDoc.size === 4)
    perDoc.values.foreach { rows =>
      assert(rows.map(_.getInt(1)).sorted.toSeq === Seq(0, 2, 4))
    }
    out.foreach { r =>
      val f = r.getSeq[Float](2)
      assert(f.length === 16 && f.forall(v => v >= 0f && v <= 1f))
    }
    // junk payloads emit zero rows (drop, don't fail)
    val junk = Multimodal.syntheticMediaTable(docs) // text bytes, not video
    assert(Multimodal.sampleFrameFeatures(junk, "doc_id", "content").count() === 0)
  }
}
