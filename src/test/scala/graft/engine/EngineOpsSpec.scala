package graft.engine

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.geom.Geo

/** Snapshots/checkpoint, pages byte-identity invariant, multimodal stubs,
  * and Structured Streaming semantics. */
class EngineOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("engine-ops")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("distance join finds pairs whose padded bboxes cross the world edge") {
    // regression: padded covers west of -WORLD_W/2 produce NEGATIVE cell
    // coordinates; the packed cell key must stay non-negative or the fused
    // kernel reads a garbage level and drops the pair (found via
    // sp_dist_join at sf0.01: points 0 and 12138 at lon ~-180, lat ~-80)
    val s = spark
    import s.implicits._
    val (x0, y0) = (Geo.projX(-180.0), Geo.projY(-80.0))
    val (x1, y1) = (Geo.projX(-179.178), Geo.projY(-79.402))
    val pts = spark.createDataset(Seq(
      SubGeom("a", 0, 0, 1, 0, Array(x0, y0), Array(1), x0, y0, x0, y0),
      SubGeom("b", 0, 0, 1, 0, Array(x1, y1), Array(1), x1, y1, x1, y1)))
    val rels = SpatialJoin.run(spark, pts, spark.emptyDataset[RefEdge],
      SpatialConfig(mode = "distance", withinDist = 100000.0)).collect()
    assert(rels.length == 2, rels.mkString(";"))
    assert(rels.head.getDouble(1) > 60000 && rels.head.getDouble(1) < 80000)
  }

  test("filter-box restricts the join to the region (P2)") {
    // two clusters far apart; a box around the first cluster must yield
    // exactly the relations of that cluster alone
    val s = spark
    import s.implicits._
    def pt(gid: String, lon: Double, lat: Double) = {
      val (x, y) = (Geo.projX(lon), Geo.projY(lat))
      SubGeom(gid, 0, 0, 1, 0, Array(x, y), Array(1), x, y, x, y)
    }
    val all = spark.createDataset(Seq(
      pt("a1", 10.0, 50.0), pt("a2", 10.0, 50.0),
      pt("b1", 100.0, -30.0), pt("b2", 100.0, -30.0)))
    val refs = spark.emptyDataset[RefEdge]
    val box = (Geo.projX(5.0), Geo.projY(45.0), Geo.projX(15.0), Geo.projY(55.0))
    val rels = SpatialJoin.run(spark, all, refs,
      SpatialConfig(filterBox = Some(box))).collect()
    val ids = rels.map(r => (r.getString(0), r.getString(2))).toSet
    assert(ids.forall { case (a, b) => a.startsWith("a") && b.startsWith("a") },
      rels.mkString(";"))
    assert(ids.contains(("a1", "a2")) && ids.contains(("a2", "a1")))
  }

  test("snapshot write/read round-trip with lineage metrics") {
    val root = java.nio.file.Files.createTempDirectory("snap").toString
    val df = spark.range(0, 1000, 1, 4).toDF("id")
    val s0 = Snapshots.write(spark, df, root, "fp-a")
    assert(s0.id == 0 && s0.rows == 1000 && s0.bytes > 0)
    assert(s0.partRows.values.sum == 1000 && s0.partRows.size == 4)
    val back = Snapshots.read(spark, root)
    assert(back.count() == 1000)
    assert(back.columns.toSeq == Seq("id"))
    val s1 = Snapshots.write(spark, df.filter(col("id") < 10), root, "fp-b")
    assert(s1.id == 1 && s1.parent == 0 && s1.rows == 10)
    assert(Snapshots.read(spark, root).count() == 10)
    assert(Snapshots.read(spark, root, 0).count() == 1000)
  }

  test("checkpoint resume skips recompute on matching fingerprint") {
    val root = java.nio.file.Files.createTempDirectory("stage").toString
    var computes = 0
    def job() = Snapshots.stage(spark, root, "input-v1") {
      computes += 1
      spark.range(0, 50).toDF("id")
    }
    assert(job().count() == 50)
    assert(job().count() == 50)
    assert(computes == 1, "second run must resume from the snapshot")
    // changed input fingerprint -> recompute
    Snapshots.stage(spark, root, "input-v2") {
      computes += 1
      spark.range(0, 7).toDF("id")
    }
    assert(computes == 2)
  }

  test("pages table: extracted text is byte-identical per url") {
    val lines = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/datasets/example_id.txt"), "UTF-8")
      .getLines().toList
    val pages = Pages.fromFixtureLines(spark, "example", lines)
    val texts = pages.select(col("url"), col("text")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(texts.size == lines.size)
    // regenerating yields identical bytes per url (determinism invariant)
    val again = Pages.fromFixtureLines(spark, "example", lines)
      .select(col("url"), col("text")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(again == texts)
    // and the text column IS the raw fixture line
    assert(texts.values.toSet == lines.toSet)
  }

  test("side field parses like the reference's `bool side = atoi(c)`") {
    // WKTParse.h:23,139 — any non-zero int collapses to side 1, non-numeric
    // to 0; the engine packs side into one bit so wider values must never
    // reach the kernel
    def sideOf(line: String): Int =
      graft.geom.Wkt.parseLine(line, 1).get.side
    assert(sideOf("a\t0\tPOINT(1 1)") == 0)
    assert(sideOf("a\t1\tPOINT(1 1)") == 1)
    assert(sideOf("a\t2\tPOINT(1 1)") == 1)   // int -> bool
    assert(sideOf("a\t-1\tPOINT(1 1)") == 1)  // int -> bool
    assert(sideOf("a\tx\tPOINT(1 1)") == 0)   // atoi("x") == 0
    // and the default side only applies when the field is absent
    assert(graft.geom.Wkt.parseLine("a\tPOINT(1 1)", 1, defaultSide = 1)
      .get.side == 1)
    assert(graft.geom.Wkt.parseLine("a\t0\tPOINT(1 1)", 1, defaultSide = 1)
      .get.side == 0)
  }

  test("multimodal plumbing: schema, batching, fallback decode") {
    val s = spark
    import s.implicits._
    val media = s.createDataset(Seq(
      graft.ops.Multimodal.MediaRow(1L, Array.fill[Byte](300)(7)),
      graft.ops.Multimodal.MediaRow(2L, Array.fill[Byte](601)(3))))
    val feats = graft.ops.Multimodal.imageFeatures(spark, media).collect()
    assert(feats.length == 2)
    val f1 = feats.find(_.doc_id == 1L).get
    assert(f1.n_bytes == 300 && f1.width == 16 + 300 % 240)
    assert(f1.hist.length == 8 && math.abs(f1.hist.sum - 1f) < 1e-5)
    val frames = graft.ops.Multimodal
      .frameSample(spark, media, frameBytes = 100, every = 2).collect()
    assert(frames.nonEmpty)
  }

  test("multimodal real header codec: PNG/GIF/BMP/JPEG dimensions") {
    import graft.ops.Multimodal.{decodeHeader, decode}
    def be32(v: Int) = Array[Byte](
      (v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
    def be16(v: Int) = Array[Byte]((v >>> 8).toByte, v.toByte)
    def le32(v: Int) = Array[Byte](
      v.toByte, (v >>> 8).toByte, (v >>> 16).toByte, (v >>> 24).toByte)
    def le16(v: Int) = Array[Byte](v.toByte, (v >>> 8).toByte)

    // PNG: signature + IHDR chunk (length 13, type IHDR, w, h, rest zeros)
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
      be32(13) ++ "IHDR".getBytes ++ be32(640) ++ be32(480) ++
      Array.fill[Byte](9)(0)
    assert(decodeHeader(png).contains((640, 480, "png")))

    // GIF89a: logical screen 320x200 LE16
    val gif = "GIF89a".getBytes ++ le16(320) ++ le16(200) ++
      Array.fill[Byte](3)(0)
    assert(decodeHeader(gif).contains((320, 200, "gif")))

    // BMP: BITMAPINFOHEADER (dib=40), 800 x -600 (top-down)
    val bmp = "BM".getBytes ++ Array.fill[Byte](12)(0) ++ le32(40) ++
      le32(800) ++ le32(-600) ++ Array.fill[Byte](28)(0)
    assert(decodeHeader(bmp).contains((800, 600, "bmp")))

    // JPEG: SOI, APP0 (len 16), DHT must be skipped, then SOF0 with h=1080 w=1920
    val jpeg = Array[Byte](0xff.toByte, 0xd8.toByte) ++
      (Array[Byte](0xff.toByte, 0xe0.toByte) ++ be16(16) ++
        Array.fill[Byte](14)(0)) ++
      (Array[Byte](0xff.toByte, 0xc4.toByte) ++ be16(5) ++
        Array.fill[Byte](3)(0)) ++
      (Array[Byte](0xff.toByte, 0xc0.toByte) ++ be16(17) ++
        Array[Byte](8) ++ be16(1080) ++ be16(1920) ++
        Array.fill[Byte](10)(0))
    assert(decodeHeader(jpeg).contains((1920, 1080, "jpeg")))

    // non-image bytes fall back deterministically (q21 oracle contract)
    val txt = "just some document text".getBytes
    assert(decodeHeader(txt).isEmpty)
    assert(decode(txt) ==
      (16 + txt.length % 240, 16 + (txt.length * 7) % 180,
        if (txt.length % 3 == 0) "png"
        else if (txt.length % 3 == 1) "jpeg" else "webp"))
  }

  test("structured streaming: watermarked tumbling window matches batch") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val sdf = mem.toDF().toDF("ts", "event_type", "value")
    val q = graft.streaming.StreamOps.windowedCounts(sdf)
      .writeStream.format("memory").queryName("wc")
      .outputMode("complete").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    mem.addData(
      (t("2024-01-01 10:05:00"), "click", 1.5),
      (t("2024-01-01 10:55:00"), "click", 2.0),
      (t("2024-01-01 11:05:00"), "view", 4.0))
    q.processAllAvailable()
    val rows = spark.table("wc").collect()
    q.stop()
    assert(rows.length == 2)
    val click = rows.find(_.getString(1) == "click").get
    assert(click.getLong(2) == 2 && click.getDouble(3) == 3.5)
  }

  test("streaming tile counts: watermarked stream matches batch tile grid") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val sdf = mem.toDF().toDF("ts", "x", "y")
    val tile = 100000000L
    val q = graft.streaming.StreamOps.tileCounts(sdf, tile)
      .writeStream.format("memory").queryName("tc")
      .outputMode("complete").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val events = Seq(
      (t("2024-01-01 10:05:00"), 0L, 0L),
      (t("2024-01-01 10:15:00"), 1000L, 1000L), // same tile as (0,0)
      (t("2024-01-01 10:25:00"), 150000000L, 0L), // next tile east
      (t("2024-01-01 11:05:00"), 0L, 0L)) // next window
    mem.addData(events: _*)
    q.processAllAvailable()
    val streamed = spark.table("tc").collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    q.stop()
    // batch twin over the identical rows, same plan
    val batch = graft.streaming.StreamOps
      .tileCounts(events.toDF("ts", "x", "y"), tile).collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(streamed == batch)
    assert(streamed.size == 3)
    // and the tile key matches the engine's batch tile arithmetic
    val t00 = math.floor(graft.geom.Geo.WORLD_W / 2 / tile).toLong
    assert(streamed.exists { case (_, tx, ty, n) =>
      tx == t00 && ty == t00 && n == 2 })
  }

  test("streaming dedup: first-per-fingerprint, cross-batch suppression, " +
      "TTL re-emit, batch parity") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    def t(x: String) = java.sql.Timestamp.valueOf(x)
    val mem = MemoryStream[(String, java.sql.Timestamp, String)]
    val sdf = mem.toDF().toDF("url", "ts", "text")
    // ttl = 1h past the 30-min watermark
    val q = graft.streaming.StreamOps.dedupStream(s, sdf)
      .writeStream.format("memory").queryName("dd")
      .outputMode("append").start()
    // batch 1: two copies of X in ONE batch -> the (ts, url)-min
    // survives. X maxSeen 12:00:30, timeout 13:00:30; wm after -> 11:30:30
    mem.addData(("u2", t("2024-01-01 12:00:30"), "X"),
      ("u1", t("2024-01-01 12:00:00"), "X"))
    q.processAllAvailable()
    // batch 2: an OUT-OF-ORDER duplicate of X (11:40 < the 12:00:30
    // already seen, above the 11:30:30 watermark so it reaches the
    // function) + first Y. X suppressed; the TTL anchor must STAY at the
    // max sighting (timeout 13:00:30) — a non-monotone anchor would slide
    // it back to 12:40. wm after -> 12:50
    mem.addData(("u3", t("2024-01-01 11:40:00"), "X"),
      ("u4", t("2024-01-01 13:20:00"), "Y"))
    q.processAllAvailable()
    // batch 3: wm during this batch is 12:50. A non-monotone anchor
    // (12:40) would expire X HERE; the monotone 13:00:30 keeps it alive.
    // wm after -> 12:55
    mem.addData(("u5", t("2024-01-01 13:25:00"), "Z"))
    q.processAllAvailable()
    // batch 4: a duplicate of X — MUST still be suppressed (the
    // regression guard: with the non-monotone anchor X expired in batch 3
    // and this would re-emit). Refreshes X's anchor to 13:24 + 1h.
    // Plus first W at 15:30 to advance the watermark. wm after -> 15:00
    mem.addData(("u6", t("2024-01-01 13:24:00"), "X"),
      ("u7", t("2024-01-01 15:30:00"), "W"))
    q.processAllAvailable()
    // batch 5: wm 15:00 > X's 14:24 timeout and X has no data -> X
    // expires during this batch; V is new
    mem.addData(("u8", t("2024-01-01 15:10:00"), "V"))
    q.processAllAvailable()
    // batch 6: X re-emits (key expired past its TTL)
    mem.addData(("u9", t("2024-01-01 15:20:00"), "X"))
    q.processAllAvailable()
    val got = spark.table("dd").collect()
      .map(r => (r.getString(0), r.getTimestamp(1))).toSet
    q.stop()
    assert(got == Set(
      ("u1", t("2024-01-01 12:00:00")), // X first copy, in-batch tie won
      ("u4", t("2024-01-01 13:20:00")), // Y
      ("u5", t("2024-01-01 13:25:00")), // Z
      ("u7", t("2024-01-01 15:30:00")), // W
      ("u8", t("2024-01-01 15:10:00")), // V
      ("u9", t("2024-01-01 15:20:00")))) // X re-emit after TTL expiry
    // batch parity: the same function on a batch DataFrame == first row
    // per fingerprint (the q9 batch dedup rule)
    val batchDocs = Seq(
      ("u2", t("2024-01-01 10:00:30"), "X"),
      ("u1", t("2024-01-01 10:00:00"), "X"),
      ("u4", t("2024-01-01 12:00:00"), "Y")).toDF("url", "ts", "text")
    val b = graft.streaming.StreamOps.dedupStream(s, batchDocs)
      .collect().map(r => r.getString(0)).toSet
    assert(b == Set("u1", "u4"))
  }

  test("multimodal WAV/MP4 header codecs on constructed containers") {
    import graft.ops.Multimodal
    val s = spark
    import s.implicits._
    // a real 44-byte-header PCM WAV: 2ch, 8000 Hz, 16-bit, 16000 bytes of
    // data = 500 ms
    val bb = java.nio.ByteBuffer.allocate(64)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes); bb.putInt(36 + 16000); bb.put("WAVE".getBytes)
    bb.put("fmt ".getBytes); bb.putInt(16)
    bb.putShort(1); bb.putShort(2); bb.putInt(8000)
    bb.putInt(8000 * 2 * 2); bb.putShort(4); bb.putShort(16)
    bb.put("data".getBytes); bb.putInt(16000)
    val wav = java.util.Arrays.copyOf(bb.array(), bb.position()) ++
      new Array[Byte](64) // truncated payload is fine for the header parse
    assert(Multimodal.decodeWavHeader(wav) == Some((2, 8000, 16, 500L)))

    // a minimal ISO-BMFF: ftyp box + moov[mvhd v0 timescale=1000 dur=2500]
    def be(i: Int): Array[Byte] = java.nio.ByteBuffer.allocate(4).putInt(i).array()
    val ftyp = be(16) ++ "ftyp".getBytes ++ "isom".getBytes ++ be(512)
    val mvhdPayload = Array[Byte](0, 0, 0, 0) ++ // version 0 + flags
      be(0) ++ be(0) ++ be(1000) ++ be(2500) ++ new Array[Byte](80)
    val mvhd = be(8 + mvhdPayload.length) ++ "mvhd".getBytes ++ mvhdPayload
    val moov = be(8 + mvhd.length) ++ "moov".getBytes ++ mvhd
    val mp4 = ftyp ++ moov
    assert(Multimodal.decodeMp4Header(mp4) == Some((1000L, 2500L)))

    // mediaFeatures dispatch: wav, mp4, png, opaque through the typed op
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
      be(13) ++ "IHDR".getBytes ++ be(640) ++ be(480) ++ new Array[Byte](5)
    val rows = Seq(
      Multimodal.MediaRow(1L, wav), Multimodal.MediaRow(2L, mp4),
      Multimodal.MediaRow(3L, png),
      Multimodal.MediaRow(4L, "just text".getBytes))
    val out = Multimodal.mediaFeatures(s, rows.toDS()).collect()
      .map(f => f.doc_id -> f).toMap
    assert(out(1L).kind == "wav" && out(1L).sample_rate == 8000 &&
      out(1L).duration_ms == 500L)
    assert(out(2L).kind == "mp4" && out(2L).duration_ms == 2500L)
    assert(out(3L).kind == "png" && out(3L).width == 640 &&
      out(3L).height == 480)
    assert(out(4L).kind == "opaque")
  }

  test("streaming point-in-polygon: stream-static join matches batch and " +
      "brute force") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    // polygons from the README example fixture (has nested + multi shapes)
    val lines = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/datasets/example_id.txt"), "UTF-8")
      .getLines().toList
    val (geoms, _) = Model.parseLines(spark, spark.createDataset(lines))
    val polys = geoms.filter(_.kind == 2).cache()
    val polyArr = polys.collect()
    // probe points: every polygon bbox corner/center + far-away outliers
    val pts = polyArr.flatMap { p =>
      Seq((p.minX + (p.maxX - p.minX) / 2, p.minY + (p.maxY - p.minY) / 2),
        (p.minX - 10, p.minY - 10), (p.maxX + 17, p.maxY + 23))
    }.distinct.zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
    // brute-force oracle
    val expected = (for {
      (id, x, y) <- pts
      p <- polyArr
      g = Model.toG(p.kind, p.coords, p.ringEnds)
      if graft.geom.Geo.locate(x, y, g) != graft.geom.Geo.OUT
    } yield (id, p.gid, p.subId)).toSet
    assert(expected.nonEmpty)
    def key(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Int)] =
      df.select(col("id"), col("gid"), col("subId")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    // batch twin, same plan
    val batch = key(graft.streaming.StreamOps.pointInPolygon(
      pts.toSeq.toDF("id", "x", "y"), polys))
    assert(batch == expected,
      s"missing=${(expected -- batch).take(5)} spurious=${(batch -- expected).take(5)}")
    // streaming run over the identical rows
    val mem = MemoryStream[(Long, Int, Int)]
    val q = graft.streaming.StreamOps.pointInPolygon(
        mem.toDF().toDF("id", "x", "y"), polys)
      .writeStream.format("memory").queryName("pip")
      .outputMode("append").start()
    mem.addData(pts.toSeq: _*)
    q.processAllAvailable()
    val streamed = key(spark.table("pip"))
    q.stop()
    assert(streamed == expected)
    polys.unpersist()
  }

  test("indexed PiP screen == inline face == brute force (batch + stream)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val lines = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/datasets/example_id.txt"), "UTF-8")
      .getLines().toList
    val (geoms, refs) = Model.parseLines(spark, spark.createDataset(lines))
    val polys = geoms.filter(_.kind == 2).cache()
    val polyArr = polys.collect()
    val pts = polyArr.flatMap { p =>
      Seq((p.minX + (p.maxX - p.minX) / 2, p.minY + (p.maxY - p.minY) / 2),
        (p.minX - 10, p.minY - 10), (p.maxX + 17, p.maxY + 23))
    }.distinct.zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
    val expected = (for {
      (id, x, y) <- pts
      p <- polyArr
      g = Model.toG(p.kind, p.coords, p.ringEnds)
      if graft.geom.Geo.locate(x, y, g) != graft.geom.Geo.OUT
    } yield (id, p.gid, p.subId)).toSet
    assert(expected.nonEmpty)
    def key(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Int)] =
      df.select(col("id"), col("gid"), col("subId")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    // write-once index (FULL fixture incl. points/lines — the screen must
    // select the areas itself), packed layout
    val dir = java.nio.file.Files.createTempDirectory("graft-pip-idx")
    val meta = SpatialIndex.write(spark, geoms, refs, SpatialConfig(),
      dir.toString)
    assert(meta.eligible, "example fixture should take the packed layout")
    val screen = SpatialIndex.pipScreen(spark, dir.toString)
    val ptsDf = pts.toSeq.toDF("id", "x", "y")
    val indexed = key(
      graft.streaming.StreamOps.pointInPolygonIndexed(ptsDf, screen))
    assert(indexed == expected,
      s"missing=${(expected -- indexed).take(5)} " +
        s"spurious=${(indexed -- expected).take(5)}")
    // inline face agrees (same join, corpus prepared per-call)
    assert(key(graft.streaming.StreamOps.pointInPolygon(ptsDf, polys))
      == expected)
    // materialized screen (pre-exploded native cells on parquet) agrees
    val matDir = java.nio.file.Files.createTempDirectory("graft-pip-mat")
    SpatialIndex.writePipScreen(spark, dir.toString, matDir.toString)
    val matScreen = SpatialIndex.readPipScreen(spark, matDir.toString)
    assert(matScreen.cellSize == screen.cellSize &&
      matScreen.levels == screen.levels)
    assert(key(graft.streaming.StreamOps.pointInPolygonIndexed(
      ptsDf, matScreen)) == expected)
    // streaming run over the identical rows against the SAME screen
    val mem = MemoryStream[(Long, Int, Int)]
    val q = graft.streaming.StreamOps.pointInPolygonIndexed(
        mem.toDF().toDF("id", "x", "y"), screen)
      .writeStream.format("memory").queryName("pip_idx")
      .outputMode("append").start()
    mem.addData(pts.toSeq: _*)
    q.processAllAvailable()
    val streamed = key(spark.table("pip_idx"))
    q.stop()
    assert(streamed == expected)
    polys.unpersist()
  }

  test("indexed PiP screen: raw-layout fallback (refs force general path)") {
    val s = spark
    import s.implicits._
    val lines = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/datasets/references"), "UTF-8")
      .getLines().toList
    val (geoms, refs) = Model.parseLines(spark, spark.createDataset(lines))
    val dir = java.nio.file.Files.createTempDirectory("graft-pip-raw")
    val meta = SpatialIndex.write(spark, geoms, refs,
      SpatialConfig(dupMinPoints = 0), dir.toString)
    assume(!meta.eligible, "references fixture should take the raw layout")
    val screen = SpatialIndex.pipScreen(spark, dir.toString)
    val polys = geoms.filter(_.kind == 2).cache()
    val polyArr = polys.collect()
    assert(polyArr.nonEmpty)
    val pts = polyArr.map(p =>
        (p.minX + (p.maxX - p.minX) / 2, p.minY + (p.maxY - p.minY) / 2))
      .distinct.zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
    def key(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Int)] =
      df.select(col("id"), col("gid"), col("subId")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    val ptsDf = pts.toSeq.toDF("id", "x", "y")
    assert(key(graft.streaming.StreamOps.pointInPolygonIndexed(ptsDf, screen))
      == key(graft.streaming.StreamOps.pointInPolygon(ptsDf, polys)))
    polys.unpersist()
  }

  test("P7 inner/outer pre-checks leave join results invariant") {
    // freiburg: big many-vertex admin polygons + points/lines — exercises
    // the reject (outer x outer) and accept (outer in inner) shortcuts;
    // results must be IDENTICAL with the filter on (reference proves
    // output-invariance via its filter-combination matrix, TestMain.cpp:36)
    val s = spark
    import s.implicits._
    def rels(useIO: Boolean): Set[String] = {
      val lines = scala.io.Source.fromInputStream(
        getClass.getResourceAsStream("/datasets/freiburg"), "UTF-8")
        .getLines().toList
      val ds = spark.createDataset(lines)
      val (geoms, refs) = Model.parseLines(spark, ds)
      SpatialJoin.run(spark, geoms, refs,
        SpatialConfig(dupMinPoints = 0, useInnerOuter = useIO))
        .collect()
        .map(r => r.getString(0) + " " + r.getString(1) + " " + r.getString(2))
        .toSet
    }
    val off = rels(useIO = false)
    val on = rels(useIO = true)
    assert(off == on,
      s"onOnly=${(on -- off).take(5)} offOnly=${(off -- on).take(5)}")
    assert(off.nonEmpty)
  }

  test("filter toggles (diag box / OBB / fast-sweep-skip) leave results " +
      "invariant — reference --no-* flag matrix") {
    // reference TestMain runs its full filter-combination matrix and
    // asserts identical output for every combination; same here for the
    // Spark kernels' P5/J4, P6 and J8 toggles (SpatialJoinMain.cpp:85-97)
    val s = spark
    import s.implicits._
    val lines = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/datasets/freiburg"), "UTF-8")
      .getLines().toList
    val ds = spark.createDataset(lines)
    val (geoms, refs) = Model.parseLines(spark, ds)
    def rels(cfg: SpatialConfig): Set[String] =
      SpatialJoin.run(spark, geoms, refs, cfg).collect()
        .map(r => r.getString(0) + " " + r.getString(1) + " " +
          r.getString(2)).toSet
    val base = rels(SpatialConfig(dupMinPoints = 0))
    assert(base.nonEmpty)
    for (diag <- Seq(true, false); obb <- Seq(true, false);
        fss <- Seq(true, false); box <- Seq(true, false)
        if !(diag && obb && fss && box)) {
      val v = rels(SpatialConfig(dupMinPoints = 0, useDiagBox = diag,
        useOrientedBox = obb, useFastSweepSkip = fss, useBoxIds = box))
      assert(v == base, s"diag=$diag obb=$obb fss=$fss box=$box: " +
        s"onlyV=${(v -- base).take(5)} onlyBase=${(base -- v).take(5)}")
    }
    // the general path (de9im mode) builds its indexes inside refine —
    // its J8 seam is separate from the fused kernel's
    val dBase = rels(SpatialConfig(mode = "de9im", dupMinPoints = 0))
    val dOff = rels(SpatialConfig(mode = "de9im", dupMinPoints = 0,
      useFastSweepSkip = false))
    assert(dOff == dBase && dBase.nonEmpty)
  }

  test("RelationText: reference writeRel format, custom separators, codecs") {
    val s = spark
    import s.implicits._
    val wkt = Seq(
      "big\tPOLYGON((0 0,10 0,10 10,0 10,0 0))",
      "small\tPOLYGON((2 2,3 2,3 3,2 3,2 2))")
    val (geoms, refs) = Model.parseLines(spark, spark.createDataset(wkt))
    val cfg = SpatialConfig(dupMinPoints = 0)
    val rels = SpatialJoin.run(spark, geoms, refs, cfg)
    val got = RelationText.lines(rels, cfg).collect().toSet
    // default separators: " <predicate> " (SpatialJoinMain.cpp:68-80)
    assert(got.contains("big contains small"), got)
    assert(got.contains("small intersects big"), got)
    // custom prefix/suffix/separator, like --prefix/--intersects/--suffix
    val fmt = OutputFormat(prefix = "<", suffix = ">",
      sepIntersects = "|I|", sepContains = "|C|")
    val custom = RelationText.lines(rels, cfg, fmt).collect().toSet
    assert(custom.contains("<big|C|small>"), custom)
    assert(custom.contains("<small|I|big>"), custom)
    // distance mode renders std::to_string-style fixed 6 decimals
    val dCfg = SpatialConfig(mode = "distance", withinDist = 500000.0)
    val dRels = SpatialJoin.run(spark, geoms, refs, dCfg)
    val dLines = RelationText.lines(dRels, dCfg).collect()
    assert(dLines.nonEmpty &&
      dLines.forall(_.matches(".+\t\\d+\\.\\d{6}\t.+")), dLines.toSeq)
    // -o out.gz / out.bz2: codec round-trip through the text sink
    for (ext <- Seq("gz", "bz2")) {
      val path = java.nio.file.Files.createTempDirectory("graftout")
        .resolve(s"rels.$ext").toString
      RelationText.write(rels, path, cfg)
      val back = spark.read.textFile(path).collect().toSet
      assert(back == got, s"$ext round-trip mismatch")
      val files = new java.io.File(path).listFiles()
      assert(files.exists(_.getName.endsWith(s".txt.$ext")),
        files.map(_.getName).toSeq)
    }
  }

  test("fused kernel == general candidates+refine+aggregate pipeline") {
    // the engine has two independent physical pipelines for the same
    // semantics: the fused kernel (dominant path) and the general
    // SMJ+refine+aggregate path (de9im / refs / >63-part multis). Their
    // outputs must be IDENTICAL on the same input — this differential
    // catches fusion bugs (pair dedup, level-visitor discipline, partial
    // aggregation) that fixture assertions on either path alone would miss.
    val s = spark
    def rels(df: org.apache.spark.sql.DataFrame): Set[(String, String, String)] =
      df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
        .toSet
    def valCol(cfg: SpatialConfig): String = cfg.mode match {
      case "distance" => "dist"
      case "de9im" => "de9im"
      case _ => "predicate"
    }
    for (cfg0 <- Seq(SpatialConfig(dupMinPoints = -1),
        SpatialConfig(mode = "distance", withinDist = 2500,
          dupMinPoints = -1),
        SpatialConfig(mode = "de9im", dupMinPoints = -1))) {
      val geoms = SynthGeo.dataset(s, 4000).cache()
      val p = SpatialJoin.plan(geoms, cfg0)
      val (cfg, lvls) = (p.cfg, p.levels)
      val fused = rels(SpatialJoin.aggregateFromPre(s,
        SpatialJoin.fusedPairs(s, geoms, cfg, lvls), cfg)
        .selectExpr("a_id", s"cast(${valCol(cfg)} as string)", "b_id"))
      val general = rels(SpatialJoin.aggregate(s,
        SpatialJoin.refine(s, SpatialJoin.candidates(s, geoms, cfg, lvls),
          cfg), cfg, mayHaveBigMultis = false)
        .selectExpr("a_id", s"cast(${valCol(cfg)} as string)", "b_id"))
      assert(fused == general,
        s"mode=${cfg0.mode} fusedOnly=${(fused -- general).take(5)} " +
          s"generalOnly=${(general -- fused).take(5)}")
      assert(fused.nonEmpty)
      geoms.unpersist()
    }
  }

  test("relation output is invariant across cell sizes") {
    // the cell size is a pure performance knob: covers, first-common-cell
    // dedup, the level split, and the per-cell buffer+minX sweep must all
    // compose to the same relation set at ANY grid. Tiny cells stress
    // multi-cell covers + pair dedup; huge cells put whole towns in one
    // cell (per-cell buffering + sweep retirement + full-cell shortcut).
    val s = spark
    import s.implicits._
    val geoms = SynthGeo.dataset(s, 15000).cache()
    val refs = s.emptyDataset[RefEdge]
    def rels(cs: Long): Seq[(String, String, String)] =
      SpatialJoin.run(s, geoms, refs, SpatialConfig(cellSize = cs))
        .as[(String, String, String)].collect().sorted.toSeq
    val cfgR = SpatialJoin.plan(geoms, SpatialConfig()).cfg
    val base = rels(cfgR.cellSize)
    assert(base.nonEmpty)
    for (cs <- Seq(math.max(cfgR.cellSize / 8, 16L), cfgR.cellSize * 64))
      assert(rels(cs) == base, s"cellSize=$cs diverges from adaptive")
    geoms.unpersist()
  }

  test("fused exchange partition count: two per core, one per 100k rows") {
    for (((cores, rows), want) <- Seq((4, 60000L) -> 8, (4, 5000000L) -> 50,
        (32, 1000000L) -> 64, (4, -1L) -> 8, (32, -1L) -> 64))
      assert(SpatialJoin.exchangeParts(cores, rows) == want,
        s"$cores cores, $rows rows")
  }

  test("fused path plans its exchanges without the session's partition conf") {
    // run() with spark.sql.shuffle.partitions at 1 and at 200: the kernel
    // and merge exchanges carry exchangeParts' count both times, and the
    // relations are the same multiset
    val s = spark
    import s.implicits._
    import org.apache.spark.ShuffleDependency
    import org.apache.spark.rdd.RDD
    val n = 6000L
    val plain = SynthGeo.dataset(s, n).cache()
    // every tenth id pair folds into a two-part geometry, so pairs with
    // it close in the merge (the plain input is all single-part: direct)
    val multi = plain.map { g =>
      val id = g.gid.drop(1).toLong
      if (id % 10 < 2)
        g.copy(gid = s"m${id / 10}", subId = (id % 10).toInt, nSubs = 2)
      else g
    }.cache()
    val refs = s.emptyDataset[RefEdge]
    val want = SpatialJoin.exchangeParts(s.sparkContext.defaultParallelism, n)
    def shuffleParts(rdd: RDD[_]): Seq[Int] = rdd.dependencies.flatMap {
      case d: ShuffleDependency[_, _, _] =>
        d.partitioner.numPartitions +: shuffleParts(d.rdd)
      case d => shuffleParts(d.rdd)
    }
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    try {
      for ((geoms, exchanges) <- Seq(multi -> 2, plain -> 1)) {
        val runs = Seq("1", "200").map { parts =>
          s.conf.set(key, parts)
          val df = SpatialJoin.run(s, geoms, refs)
          val rdd = df.queryExecution.toRdd
          assert(shuffleParts(rdd) == Seq.fill(exchanges)(want),
            s"conf $parts, $exchanges exchanges")
          assert(rdd.getNumPartitions == want, s"conf $parts")
          df.as[(String, String, String)].collect().sorted.toSeq
        }
        assert(runs.head.nonEmpty)
        assert(runs(0) == runs(1), s"relations differ ($exchanges exchanges)")
        if (exchanges == 2) assert(runs.head.exists(_._1.startsWith("m")))
      }
    } finally {
      s.conf.set(key, prev)
      multi.unpersist(); plain.unpersist()
    }
  }

  test("sort merge == general path on multi-geometries") {
    // the merge of the kernel's partial rows must agree with the general
    // path on inputs where pairs actually need merging —
    // multitests/collectiontests carry multi-sub geometries whose
    // sub-pairs are examined in different cells (SynthGeo is all
    // single-sub, so the soak never closes a multi group)
    val s = spark
    def rels(df: org.apache.spark.sql.DataFrame): Set[(String, String, String)] =
      df.selectExpr("a_id", "cast(predicate as string)", "b_id")
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
        .toSet
    for (ds <- Seq("multitests", "collectiontests")) {
      val lines = scala.io.Source.fromInputStream(
        getClass.getResourceAsStream(s"/datasets/$ds"), "UTF-8")
        .getLines().toSeq
      val strDs = s.createDataset(lines)(
        org.apache.spark.sql.Encoders.STRING)
      val (geoms0, _) = Model.parseLines(s, strDs)
      val geoms = geoms0.cache()
      val p = SpatialJoin.plan(geoms, SpatialConfig(dupMinPoints = -1))
      val (cfg, lvls) = (p.cfg, p.levels)
      val sortM = rels(SpatialJoin.aggregateFromPre(s,
        SpatialJoin.fusedPairs(s, geoms, cfg, lvls), cfg))
      val general = rels(SpatialJoin.aggregate(s,
        SpatialJoin.refine(s, SpatialJoin.candidates(s, geoms, cfg, lvls),
          cfg), cfg, mayHaveBigMultis = false))
      assert(sortM == general, s"$ds sort merge diverges: " +
        s"+${(sortM -- general).take(5)} -${(general -- sortM).take(5)}")
      assert(sortM.nonEmpty)
      // de9im on the same multi-sub fixtures: the fused kernel's unary
      // bit_or matrix merge must equal the general path's on pairs whose
      // sub-matrices really merge
      def matRels(df: org.apache.spark.sql.DataFrame) =
        df.selectExpr("a_id", "cast(de9im as string)", "b_id")
          .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
          .toSet
      val dCfg = cfg.copy(mode = "de9im")
      val dFused = matRels(SpatialJoin.aggregateFromPre(s,
        SpatialJoin.fusedPairs(s, geoms, dCfg, lvls), dCfg))
      val dGeneral = matRels(SpatialJoin.aggregate(s,
        SpatialJoin.refine(s, SpatialJoin.candidates(s, geoms, dCfg, lvls),
          dCfg), dCfg, mayHaveBigMultis = false))
      assert(dFused == dGeneral, s"$ds de9im fused/general diverge: " +
        s"+${(dFused -- dGeneral).take(5)} -${(dGeneral -- dFused).take(5)}")
      assert(dFused.nonEmpty)
      geoms.unpersist()
    }
  }

  /** freiburg fixture geometries (real OSM shapes of every kind). */
  private def freiburgGeoms(): org.apache.spark.sql.Dataset[SubGeom] = {
    val lines = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/datasets/freiburg"), "UTF-8")
      .getLines().toList
    Model.parseLines(spark,
      spark.createDataset(lines)(org.apache.spark.sql.Encoders.STRING))._1
  }

  /** Plain-Scala re-derivation of the multi-level cover from its documented
    * semantics (pad, native level, active levels >= native, floor cell
    * ranges, key packing): (gid, subId, nlvl, lvl, cell, padded bbox). */
  private def expectedCover(geoms: Array[SubGeom], cfg: SpatialConfig,
      lvls: Seq[Int]): Seq[(String, Int, Int, Int, Long, Int, Int, Int, Int)] = {
    import graft.geom.Dist
    val cs = cfg.cellSize
    val w2 = Geo.WORLD_W / 2
    geoms.flatMap { sg =>
      var (minX, minY, maxX, maxY) = (sg.minX, sg.minY, sg.maxX, sg.maxY)
      if (cfg.withinDist >= 0) {
        val f = math.max(1.0 / Dist.distFactor(minY / Geo.PREC),
          1.0 / Dist.distFactor(maxY / Geo.PREC))
        val pad = math.ceil((cfg.withinDist / 2.0) * f * Geo.PREC).toInt
        minX -= pad; minY -= pad; maxX += pad; maxY += pad
      }
      val w = math.max(maxX - minX, maxY - minY).toLong
      val nlvl = SpatialJoin.levelFor(w, cs)
      for {
        lvl <- lvls if lvl >= nlvl
        csL = (cs << (SpatialJoin.LEVEL_FACTOR_BITS * lvl)).toDouble
        cx <- math.floor((minX + w2) / csL).toLong to
          math.floor((maxX + w2) / csL).toLong
        cy <- math.floor((minY + w2) / csL).toLong to
          math.floor((maxY + w2) / csL).toLong
      } yield (sg.gid, sg.subId, nlvl, lvl,
        (lvl.toLong << SpatialJoin.CELL_LVL_SHIFT) +
          (cx + SpatialJoin.CELL_BIAS) * (1L << SpatialJoin.CELL_XY_BITS) +
          (cy + SpatialJoin.CELL_BIAS),
        minX, minY, maxX, maxY)
    }.toSeq
  }

  private val coverModes = Seq(SpatialConfig(),
    SpatialConfig(mode = "distance", withinDist = 5000))

  test("cellCover generator matches an independent enumeration") {
    // the cover feeds the general join path; this pins it (pad, nlvl,
    // level filter, cell ranges, key packing, lvl read back from the key)
    // against the plain-Scala re-derivation, on real fixture geometries,
    // in predicates AND distance mode
    val geoms = freiburgGeoms()
    for (cfg0 <- coverModes) {
      val p = SpatialJoin.plan(geoms, cfg0)
      val (df, _) = SpatialJoin.cellCover(geoms, p.cfg, p.levels)
      val got = df.select("gid", "subId", "nlvl", "lvl", "cell",
          "minX", "minY", "maxX", "maxY")
        .collect()
        .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getInt(3),
          r.getLong(4), r.getInt(5), r.getInt(6), r.getInt(7), r.getInt(8)))
        .toSet
      val expected = expectedCover(geoms.collect(), p.cfg, p.levels).toSet
      assert(got == expected,
        s"cfg=$cfg0 missing=${(expected -- got).take(3)} " +
          s"spurious=${(got -- expected).take(3)}")
      assert(got.nonEmpty)
    }
  }

  test("packed cover (CellListExpr) matches an independent enumeration") {
    // the packed cover feeds the fused kernel's shuffle; this pins its
    // (cell, gid) rows and the native level packed into meta against the
    // same plain-Scala re-derivation, per (gid, cell) multiset, on real
    // fixture geometries in predicates AND distance mode
    val geoms = freiburgGeoms()
    def multiset[K](rows: Iterable[K]) =
      rows.groupBy(identity).map { case (k, v) => (k, v.size) }
    for (cfg0 <- coverModes) {
      val p = SpatialJoin.plan(geoms, cfg0)
      val packedDf = SpatialJoin.coverFromPacked(
        SpatialJoin.packedRows(geoms, p.cfg), p.cfg.cellSize, p.levels)
      val got = multiset(packedDf.select("gid", "cell", "meta").collect()
        .map(r => (r.getString(0), r.getLong(1), (r.getInt(2) >> 3) & 31))
        .toSeq)
      val want = multiset(expectedCover(geoms.collect(), p.cfg, p.levels)
        .map(e => (e._1, e._5, e._3)))
      assert(got == want, s"cfg=$cfg0 " +
        s"missing=${(want.keySet -- got.keySet).take(3)} " +
        s"spurious=${(got.keySet -- want.keySet).take(3)}")
      assert(got.nonEmpty)
    }
  }

  test("plan levels == the distinct native levels of the cover at any cell size") {
    // plan() derives the active levels from the stats pass's log2 extent
    // buckets; the cover computes each row's native level directly
    // (nlvlCol). Every geometry must appear in the cover, and the cover's
    // distinct nlvls must be exactly the planned levels — at the adaptive
    // cell size and at /8 and x64 of it (several levels active)
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select("gid", "side", "subId").distinct().count()
    for ((name, mk) <- Seq[(String, () => org.apache.spark.sql.Dataset[SubGeom])](
        "SynthGeo" -> (() => SynthGeo.dataset(spark, 15000)),
        "freiburg" -> (() => freiburgGeoms()))) {
      val geoms = mk().cache()
      for (cfg0 <- coverModes) {
        val adaptive = SpatialJoin.plan(geoms, cfg0).cfg.cellSize
        for (cs <- Seq(adaptive, math.max(adaptive / 8, 16L), adaptive * 64)) {
          val p = SpatialJoin.plan(geoms, cfg0.copy(cellSize = cs))
          assert(p.cfg.cellSize == cs)
          val (cover, _) = SpatialJoin.cellCover(geoms, p.cfg, p.levels)
          val nlvls = cover.select("nlvl").distinct().collect()
            .map(_.getInt(0)).toSeq.sorted
          assert(nlvls == p.levels, s"$name ${cfg0.mode} cs=$cs")
          assert(keys(cover) == keys(geoms.toDF()),
            s"$name ${cfg0.mode} cs=$cs: a geometry has no cell")
        }
      }
      geoms.unpersist()
    }
  }

  test("sessionize splits on 30-minute gaps") {
    val s = spark
    import s.implicits._
    val ev = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00")),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:10:00")),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 12:00:00")),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 09:00:00")))
      .toDF("user_id", "ts")
    val out = graft.streaming.StreamOps.sessionize(spark, ev).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) == (2L, 3L))
    assert(out(2L) == (1L, 1L))
  }
}
