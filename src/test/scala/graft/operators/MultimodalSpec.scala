package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkTestBase, Tables}

class MultimodalSpec extends SparkTestBase {

  test("decodeMeta is partition-parallel, deterministic, one row per doc") {
    val docs = Tables.documents(spark, sf)
    val meta = MultimodalOps.decodeMeta(docs)
    assert(meta.count() == docs.count())
    val a = meta.orderBy("doc_id").collect()
    val b = MultimodalOps.decodeMeta(docs.repartition(8)).orderBy("doc_id").collect()
    assert(a.sameElements(b)) // decode independent of partitioning
    a.foreach { m =>
      assert(Set("jpeg", "png", "wav", "mp4")(m.format))
      assert(m.width >= 64 && m.height >= 64 && m.n_frames >= 1)
    }
  }

  test("sampleFrames keeps every k-th fixed-size frame") {
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 10)
    val frames = MultimodalOps.sampleFrames(docs, frameBytes = 16, everyK = 4)
    val byDoc = frames.groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = MultimodalOps.withBinaryPayload(docs)
      .select(col("doc_id"), octet_length(col("payload")).as("len")).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1) / 16 + 3) / 4).toLong)
      .filter(_._2 > 0).toMap // zero-frame docs emit no rows at all
    assert(byDoc == expected)
    // frames are at most 16 bytes
    assert(frames.filter(octet_length(col("frame")) > 16).count() == 0)
  }

  test("sampleFrames: short payloads yield zero frames; indices are original positions") {
    import spark.implicits._
    val docs = Seq((1L, "tiny"), (2L, "x" * 100)).toDF("doc_id", "text")
    val frames = MultimodalOps.sampleFrames(docs, frameBytes = 16, everyK = 4)
    assert(frames.filter(col("doc_id") === 1L).count() == 0) // 4 bytes < 1 frame
    val idx = frames.filter(col("doc_id") === 2L)
      .select("frame_idx").collect().map(_.getInt(0)).sorted
    assert(idx.sameElements(Array(0, 4))) // 6 full frames -> keep 0 and 4
  }

  test("resize bounds payloads at targetW*targetH and is deterministic") {
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 50)
    val a = MultimodalOps.resize(docs, 8, 8).collect().sortBy(_.doc_id)
    val b = MultimodalOps.resize(docs.repartition(8), 8, 8).collect().sortBy(_.doc_id)
    assert(a.length == 50)
    // a real resize emits exactly target-many pixels; so does the stub
    a.foreach(r => assert(r.payload.length == 64))
    assert(a.zip(b).forall { case (x, y) =>
      x.doc_id == y.doc_id && java.util.Arrays.equals(x.payload, y.payload) })
  }

  test("parseHeaders reads true dimensions from genuine container bytes") {
    import spark.implicits._
    def be32(v: Int) = Array[Byte](
      (v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
    def be16(v: Int) = Array[Byte]((v >>> 8).toByte, v.toByte)
    def le16(v: Int) = Array[Byte](v.toByte, (v >>> 8).toByte)
    def le32(v: Int) = Array[Byte](
      v.toByte, (v >>> 8).toByte, (v >>> 16).toByte, (v >>> 24).toByte)
    // minimal-but-genuine headers, exactly as the specs lay them out
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
      be32(13) ++ "IHDR".getBytes ++ be32(640) ++ be32(480) ++ Array[Byte](8, 2)
    val jpeg = Array[Byte](0xff.toByte, 0xd8.toByte) ++
      // APP0 segment (16 bytes payload incl. the 2 length bytes), then SOF0
      Array[Byte](0xff.toByte, 0xe0.toByte) ++ be16(16) ++ new Array[Byte](14) ++
      Array[Byte](0xff.toByte, 0xc0.toByte) ++ be16(17) ++ Array[Byte](8) ++
      be16(1080) ++ be16(1920) ++ Array[Byte](3)
    val gif = "GIF89a".getBytes ++ le16(320) ++ le16(200) ++ new Array[Byte](3)
    val bmp = "BM".getBytes ++ new Array[Byte](16) ++ le32(800) ++ le32(600) ++
      new Array[Byte](4)
    val junk = "just some text".getBytes
    val rows = Seq(1L -> png, 2L -> jpeg, 3L -> gif, 4L -> bmp, 5L -> junk)
      .toDF("doc_id", "payload")
    // a pre-existing payload column is the REAL blob: not overwritten
    val got = MultimodalOps.parseHeaders(rows)
      .collect().map(h => h.doc_id -> h).toMap
    assert(got(1L).format == "png" && got(1L).width == Some(640)
      && got(1L).height == Some(480))
    assert(got(2L).format == "jpeg" && got(2L).width == Some(1920)
      && got(2L).height == Some(1080))
    assert(got(3L).format == "gif" && got(3L).width == Some(320)
      && got(3L).height == Some(200))
    assert(got(4L).format == "bmp" && got(4L).width == Some(800)
      && got(4L).height == Some(600))
    assert(got(5L).format == "unknown" && got(5L).width.isEmpty)
    assert(got(1L).n_bytes == png.length)
    // the text stand-in path degrades to unknown on every doc, no throw
    val onDocs = MultimodalOps.parseHeaders(
      Tables.documents(spark, sf).filter(col("doc_id") < 20))
    assert(onDocs.collect().forall(_.format == "unknown"))
  }

  test("featurizeFrames yields an 8-dim vector per sampled frame") {
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 5)
    val frames = MultimodalOps.sampleFrames(docs)
    val feats = MultimodalOps.featurizeFrames(frames)
    assert(feats.count() == frames.count())
    feats.collect().foreach { f =>
      assert(f.feature.length == 8)
      assert(f.feature.forall(v => v >= 0f && v <= 1f))
    }
  }

  test("frameSample digests equal direct md5 of the byte slices") {
    val out = MultimodalOps.frameSample(spark, sf).collect()
    assert(out.nonEmpty)
    val texts = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    out.take(50).foreach { r =>
      val (id, idx, hash) = (r.getLong(0), r.getInt(1), r.getString(3))
      assert(idx % 4 == 0 && r.getInt(2) == 16)
      val bytes = texts(id).getBytes("UTF-8").slice(idx * 16, idx * 16 + 16)
      val md = java.security.MessageDigest.getInstance("MD5").digest(bytes)
      assert(md.map("%02x".format(_)).mkString == hash, s"digest at $id/$idx")
    }
  }

  test("audioTrim: hand-computed windows, trim pointers, and edge sentinels") {
    import org.apache.spark.sql.functions.{col, length, lit}
    import spark.implicits._
    // doc 1: 16 quiet (len-2) samples then 16 loud (len-6) ones →
    //   windows rms = [2, 6]; threshold 4.5 → silence 0.5, trim [1, 1]
    // doc 2: 32 quiet samples → all silent, -1 sentinels
    // doc 3: 5 samples (< one window) → zero windows, -1 sentinels
    val docs = Seq(
      (1L, (Seq.fill(16)("ab") ++ Seq.fill(16)("abcdef")).mkString(" ")),
      (2L, Seq.fill(32)("ab").mkString(" ")),
      (3L, Seq.fill(5)("abcdef").mkString(" ")))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    withTempDir("graft-audio") { dir =>
      val tmp = dir.toString
      docs.write.parquet(s"$tmp/documents.parquet")
      val out = MultimodalOps.audioTrim(spark, tmp).collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getDouble(3),
          r.getInt(4), r.getInt(5)))).toMap
      assert(out(1L) == ((32, 2, 0.5, 1, 1)), s"got ${out(1L)}")
      assert(out(2L) == ((32, 2, 1.0, -1, -1)), s"got ${out(2L)}")
      assert(out(3L) == ((5, 0, 0.0, -1, -1)), s"got ${out(3L)}")
    }
  }

  test("audioTrim on the fixture: fractions bounded, pointers ordered") {
    val out = MultimodalOps.audioTrim(spark, sf).collect()
    assert(out.length == graft.Tables.documents(spark, sf).count())
    out.foreach { r =>
      val (nw, frac, a, b) =
        (r.getInt(2), r.getDouble(3), r.getInt(4), r.getInt(5))
      assert(frac >= 0.0 && frac <= 1.0)
      if (a >= 0) assert(b >= a && b < nw)
      else assert(b == -1 && (nw == 0 || frac == 1.0))
    }
  }

  test("phashMedia: hand-computed fingerprint, identical payloads collide") {
    import spark.implicits._
    // a 120-char payload resampled to 60 pixels picks bytes (i*120)/60 =
    // every 2nd byte; the chunk layout below makes the PICKED pixels
    // alternate 'a'(97)/'z'(122), so the mean splits them exactly
    val base = (0 until 60).map(i => if (i % 2 == 0) "az" else "za")
      .mkString // picked byte i = char at 2i = chunk i's first char
    val docs = Seq(
      (1L, base, 120L), (2L, base, 120L), (3L, "a" * 120, 120L))
      .toDF("doc_id", "text", "n_chars")
    val sigs = MultimodalOps.phashMedia(docs).collect()
      .map(p => p.doc_id -> p.phash).toMap
    // pixel i = chunk i's first char: 'a' when i even, 'z' when i odd;
    // mean = (30*97 + 30*122)/60 = 109.5 -> bit set exactly on 'z' (odd i)
    val expected = (0 until 60).filter(_ % 2 == 1)
      .map(1L << _).foldLeft(0L)(_ | _)
    assert(sigs(1L) == expected, f"got ${sigs(1L)}%x expected $expected%x")
    assert(sigs(1L) == sigs(2L))
    assert(sigs(3L) != sigs(1L))
    // identical payloads -> a hamming-0 pair in the declared query shape
    val pairs = DedupOps.hammingBandPairs(
      MultimodalOps.phashMedia(docs).toDF()
        .select(col("doc_id"), col("phash").as("sig"))).collect()
    assert(pairs.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L
      && r.getInt(2) == 0))
  }

  test("phashDedup: per-item reps equal an all-pairs Hamming driver recompute") {
    val got = MultimodalOps.phashDedup(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val sigs = MultimodalOps.phashMedia(
      Tables.documents(spark, sf).filter(col("n_chars") > 0)).collect()
    // ground truth from the exact all-pairs Hamming graph (banding is
    // lossless for <= 3 by the 4-band pigeonhole, so the declared query
    // must agree exactly)
    val nbrs = sigs.map { a =>
      a.doc_id -> sigs.filter(b => b.doc_id != a.doc_id
        && java.lang.Long.bitCount(a.phash ^ b.phash) <= 3).map(_.doc_id)
    }.toMap
    assert(got.size == sigs.length)
    sigs.foreach { s =>
      val n = nbrs(s.doc_id)
      val expRep = if (n.isEmpty) s.doc_id else math.min(s.doc_id, n.min)
      assert(got(s.doc_id) == ((s.phash, expRep, n.length.toLong)),
        s"doc ${s.doc_id}: got ${got(s.doc_id)} expected " +
          s"(${s.phash}, $expRep, ${n.length})")
    }
    // determinism
    val again = MultimodalOps.phashDedup(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(again == got)
  }
}
