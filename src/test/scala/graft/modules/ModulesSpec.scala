package graft.modules

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.catalog.{Connectors, WriteBack}
import graft.config.Config
import graft.core.PiiTypes
import graft.data.Synth
import graft.ml.{CalibratorFit, EmbedModel}
import graft.sample.Sampler

class SynthSpec extends SparkSpec {
  test("gold span offsets slice back to their text (tests/test_datasets.py:4-9)") {
    val ds = Synth.generate(spark, 50, seed = 1234).collect()
    assert(ds.length == 50)
    for (ex <- ds; l <- ex.labels)
      assert(ex.text.substring(l.start, l.end) == l.text)
  }

  test("generated credit cards are Luhn-valid, dates ISO, generation is seed-deterministic") {
    val a = Synth.generate(spark, 20, seed = 7).collect()
    val b = Synth.generate(spark, 20, seed = 7).collect()
    assert(a.toSeq == b.toSeq)
    for (ex <- a; l <- ex.labels if l.`type` == PiiTypes.CREDIT_CARD)
      assert(graft.core.Checksums.luhn(l.text))
    for (ex <- a; l <- ex.labels if l.`type` == PiiTypes.DATE)
      assert(l.text.matches("""\d{4}-\d{2}-\d{2}"""))
  }

  test("jsonl roundtrip") {
    val dir = SparkSpec.tempDir("jsonl") + "/out"
    val ds = Synth.generate(spark, 10, seed = 3)
    Synth.saveJsonl(ds, dir)
    val back = Synth.loadJsonl(spark, dir).collect().sortBy(_.text)
    assert(back.toSeq == ds.collect().toSeq.sortBy(_.text))
  }

  test("synthetic examples flow through the detection pipeline") {
    import spark.implicits._
    val df = Synth.generate(spark, 30, seed = 11).toDF()
    val n = df.select(explode(graft.functions.pii_candidates(col("text")))).count()
    assert(n > 30) // every template embeds multiple detectable values
  }
}

class ConfigSpec extends AnyFunSuite {
  val yaml =
    """ai:
      |  mode: strict
      |  ner:
      |    enabled: false
      |    confidence_min: 0.7
      |  ensemble:
      |    weights:
      |      rules: 0.5
      |    decision_threshold: 0.6
      |""".stripMargin

  test("yaml parse + defaults merge") {
    val c = Config.load(Some(yaml), env = Map.empty)
    assert(c.mode == "strict")
    assert(!c.ner.enabled)
    assert(c.ner.confidenceMin == 0.7)
    assert(c.ner.provider == "presidio") // default survives partial override
    assert(c.ensemble.wRule == 0.5)
    assert(c.ensemble.wNer == 0.3)
    assert(c.ensemble.decisionThreshold == 0.6)
  }

  test("CPS_ env overrides with __ nesting and coercion (config.py:132-169)") {
    val c = Config.load(Some(yaml), env = Map(
      "CPS_AI__NER__ENABLED" -> "yes",
      "CPS_AI__ENSEMBLE__DECISION_THRESHOLD" -> "0.8",
      "CPS_AI__LLM__CACHE_TTL_MINUTES" -> "60",
      "UNRELATED" -> "x"))
    assert(c.ner.enabled)
    assert(c.ensemble.decisionThreshold == 0.8)
    assert(c.llm.cacheTtlMinutes == 60)
  }

  test("unknown keys are rejected (pydantic extra=forbid parity)") {
    intercept[IllegalArgumentException] {
      Config.load(Some("ai:\n  bogus_key: 1\n"), env = Map.empty)
    }
  }

  test("primitive coercion table (C28)") {
    assert(Config.coerce("true") == true)
    assert(Config.coerce("on") == true)
    assert(Config.coerce("off") == false)
    assert(Config.coerce("3.5") == 3.5)
    assert(Config.coerce("42") == 42)
    assert(Config.coerce("hello") == "hello")
  }
}

class SamplerSpec extends SparkSpec {
  // `a.b` and `na`me` copy c_name: each name is one column, taken literally
  private lazy val customers = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    .withColumn("a.b", col("c_name")).withColumn("na`me", col("c_name"))
  private val names = Seq("c_name", "a.b", "na`me")

  test("rand mode: n distinct non-null values, seed-deterministic") {
    val byName = names.map { c =>
      val a = Sampler.sampleColumn(customers, c, 5, mode = Sampler.Rand(42)).collect().toSet
      val b = Sampler.sampleColumn(customers, c, 5, mode = Sampler.Rand(42)).collect().toSet
      assert(a.size == 5, c)
      assert(a == b, c)
      a
    }
    assert(byName.distinct.size == 1)
  }

  test("where predicate narrows the pool (F2)") {
    val pool = customers.filter(col("c_mktsegment") === "BUILDING")
      .select("c_name").collect().map(_.getString(0)).toSet
    for (c <- names) {
      val got = Sampler.sampleColumn(customers, c, 100,
        where = Some("c_mktsegment = 'BUILDING'"), mode = Sampler.HashPrefix(Seq("0", "1", "2", "3")))
        .collect().map(_.getString(0)).toSet
      assert(got.nonEmpty && got.subsetOf(pool), c)
    }
  }

  test("hit rate over sampled values") {
    import spark.implicits._
    val vals = Seq("a@b.com", "c@d.org", "nope", "x@y.net").toDF("v")
    val hr = Sampler.hitRate(vals, "v", col("v").rlike("@"))
      .collect().head
    assert(hr.getLong(0) == 4)
    assert(hr.getDouble(1) == 0.75)
  }
}

class WriteBackSpec extends SparkSpec {
  test("sorted csv + change detection idempotency (glue.py:207-219)") {
    assert(WriteBack.sortedCsv(Seq("PHONE_NUMBER", "EMAIL", "EMAIL")) == "EMAIL,PHONE_NUMBER")
    val first = WriteBack.updatedProperties(Map.empty, "c1", isPii = true, Seq("EMAIL"))
    assert(first.contains(Map("pii" -> "true", "cps.pii_types.col.c1" -> "EMAIL")))
    // re-applying the same state is a no-op
    assert(WriteBack.updatedProperties(first.get, "c1", isPii = true, Seq("EMAIL")).isEmpty)
  }

  test("comment append-if-absent with 255 cap (C26)") {
    assert(WriteBack.appendComment("", "PII: EMAIL") == "PII: EMAIL")
    assert(WriteBack.appendComment("existing", "PII: EMAIL") == "existing PII: EMAIL")
    assert(WriteBack.appendComment("has PII: EMAIL already", "PII: EMAIL") == "has PII: EMAIL already")
    assert(WriteBack.appendComment("x" * 300, "note").length == 255)
  }

  test("glob to regex (C23 fnmatch parity)") {
    assert(Connectors.globMatch("*", "anything"))
    assert(Connectors.globMatch("db_?", "db_1"))
    assert(!Connectors.globMatch("db_?", "db_12"))
    assert(Connectors.globMatch("sales*", "sales_2024"))
    assert(!Connectors.globMatch("sales*", "presales"))
  }

  test("applyTags is idempotent over a real session-catalog table") {
    import spark.implicits._
    spark.sql("CREATE DATABASE IF NOT EXISTS demo")
    spark.sql("DROP TABLE IF EXISTS demo.users")
    spark.sql("CREATE TABLE demo.users (email STRING, phone STRING) USING parquet")
    val findings = Seq(("demo", "users", "email", Seq("EMAIL")),
      ("demo", "users", "phone", Seq("PHONE_NUMBER")))
      .toDF("schema", "table", "column", "types")
    assert(WriteBack.applyTags(spark, findings) == 1)  // applied once
    assert(WriteBack.applyTags(spark, findings) == 0)  // second run: no-op
    val props = spark.sql("SHOW TBLPROPERTIES demo.users").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props("cps.pii_types.col.email") == "EMAIL")
    assert(props("pii") == "true")
  }

  test("iterColumns enumerates the session catalog with glob filters") {
    val cols = Connectors.iterColumns(spark, Seq("demo"), Seq("use*")).collect()
    assert(cols.map(_.column).toSet == Set("email", "phone"))
    assert(cols.head.ref.startsWith("hms://demo/users/"))
  }
}

class EmbedSpec extends SparkSpec {
  test("neutral model returns zeros for every type (embeddings.py:76-80)") {
    import spark.implicits._
    val df = Seq("ctx a", "ctx b").toDF("context")
    val out = EmbedModel.neutral.predictProba(df, "context")
    for (t <- PiiTypes.ALL)
      assert(out.select(s"embed_$t").as[Double].collect().forall(_ == 0.0))
  }

  test("degenerate classes get constant estimators (embeddings.py:113-122)") {
    import spark.implicits._
    val labeled = Seq(("looks like mail ctx", "EMAIL"), ("other mail", "EMAIL"),
      ("phone ctx", "PHONE_NUMBER"), ("phone two", "PHONE_NUMBER")).toDF("context", "label")
    val m = EmbedModel.fit(labeled, "context", "label")
    // never-seen type -> constant 0
    assert(m.classifiers(PiiTypes.SSN) == Left(0.0))
    // trained classes separate their own examples
    val out = m.predictProba(labeled, "context").collect()
    for (r <- out) {
      val pEmail = r.getDouble(r.fieldIndex("embed_EMAIL"))
      val pPhone = r.getDouble(r.fieldIndex("embed_PHONE_NUMBER"))
      if (r.getString(1) == "EMAIL") assert(pEmail > pPhone)
      else assert(pPhone > pEmail)
    }
  }

  test("embed model json roundtrip and neutral fallback") {
    import spark.implicits._
    val labeled = Seq(("mail ctx one", "EMAIL"), ("mail ctx two", "EMAIL"),
      ("phone ctx one", "PHONE_NUMBER"), ("phone ctx two", "PHONE_NUMBER")).toDF("context", "label")
    val m = EmbedModel.fit(labeled, "context", "label")
    val f = SparkSpec.tempDir("embed") + "/model.json"
    EmbedModel.save(m, f)
    val back = EmbedModel.load(f)
    // same predictions after roundtrip
    val a = m.predictProba(labeled, "context").select("embed_EMAIL").as[Double].collect().toSeq
    val b = back.predictProba(labeled, "context").select("embed_EMAIL").as[Double].collect().toSeq
    assert(a == b)
    assert(EmbedModel.load("/nope/missing.json").isNeutral)
  }

  test("calibrator fit: degenerate guards and monotone separation (ensemble.py:170-189)") {
    val scores = Seq(0.1, 0.2, 0.8, 0.9).map(s => Map("EMAIL" -> s))
    val labels = Seq(None, None, Some("EMAIL"), Some("EMAIL"))
    val c = CalibratorFit.fit(scores, labels)
    val (a, b) = c.models("EMAIL")
    assert(a > 0) // higher raw score -> higher calibrated prob
    val sig = (x: Double) => 1.0 / (1.0 + math.exp(-(a * x + b)))
    assert(sig(0.9) > sig(0.1))
    // untouched types fall back to identity
    assert(c.models("SSN") == ((1.0, 0.0)))
    // all-positive degenerate -> identity
    val c2 = CalibratorFit.fit(scores, Seq.fill(4)(Some("EMAIL")))
    assert(c2.models("EMAIL") == ((1.0, 0.0)))
  }

  test("distributed calibrator fit matches the collected fit to 1e-9") {
    import spark.implicits._
    import graft.core.PiiTypes
    // seeded fixture: several hundred rows, three non-degenerate types with
    // different convergence speeds, one degenerate (never labeled), nulls
    val rnd = new scala.util.Random(42)
    val types = PiiTypes.ALL
    val rows: Seq[(Seq[Double], Option[String])] = (0 until 400).map { _ =>
      val raw: Seq[Double] =
        types.map(_ => math.min(math.abs(rnd.nextGaussian() % 1.0), 1.0)).toSeq
      val gold: Option[String] = rnd.nextInt(5) match {
        case 0 => Some("EMAIL")
        case 1 => Some("PHONE")
        case 2 => if (rnd.nextBoolean()) Some("SSN") else None
        case _ => None
      }
      (raw, gold)
    }
    val driver = CalibratorFit.fit(
      rows.map(r => types.zip(r._1).toMap), rows.map(_._2))
    val df = rows.toDF("raw", "gold_label")
    val dist = CalibratorFit.fitDistributed(df)
    for (t <- types) {
      val (aD, bD) = driver.models(t)
      val (aX, bX) = dist.models(t)
      assert(math.abs(aD - aX) < 1e-9 && math.abs(bD - bX) < 1e-9,
        s"$t: collected=($aD,$bD) distributed=($aX,$bX)")
    }
    // and no full-set collect: the plan only ever aggregates
    // (fitDistributed's API takes the frame; nothing here can collect it)
  }
}

class MultimodalSpec extends SparkSpec {
  test("binary plumbing: batched decode produces typed features") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val feats = graft.ops.Multimodal.decodeFeatures(
      graft.ops.Multimodal.mediaFromDocuments(docs)).collect()
    assert(feats.length == docs.count())
    for (f <- feats.take(10)) {
      assert(f.fp.length == 32)
      assert(f.feature.length == 8)
      assert(f.feature.forall(v => v >= 0f && v <= 1f))
    }
  }

  test("frame sampling: stride coverage, original indices, short-tail frame") {
    import spark.implicits._
    import graft.ops.Multimodal
    // 70 bytes at frameBytes=16 -> 5 frames (last one 6 bytes); stride 2
    // samples frames 0,2,4
    val blob = ("x" * 70).getBytes("UTF-8")
    val media = Seq(Multimodal.MediaRow(7L, blob, "video/fake")).toDS()
    val got = Multimodal.sampleFrames(media, frameBytes = 16, stride = 2)
      .collect().sortBy(_.frame_idx)
    assert(got.map(_.frame_idx).toSeq == Seq(0, 2, 4))
    assert(got.forall(_.n_frames == 5))
    assert(got.forall(_.doc_id == 7L))
    // frames 0 and 2 are identical 16-byte runs of 'x' -> same fingerprint;
    // the 6-byte tail frame differs
    assert(got(0).fp == got(1).fp)
    assert(got(2).fp != got(0).fp)
    assert(got.forall(_.fp.length == 32))
    // empty blob: zero frames, zero rows
    val empty = Seq(Multimodal.MediaRow(8L, Array.empty[Byte], "video/fake")).toDS()
    assert(Multimodal.sampleFrames(empty).count() == 0)
  }

  test("resize: exact block means, crop alignment, short blobs drop") {
    import spark.implicits._
    import graft.ops.Multimodal
    // a 4-wide raster of bytes 0..15 plus a 3-byte ragged tail; factor 2:
    // h = 19/4 = 4 full rows, oh = 2, ow = 2 — the tail row is cropped
    val blob = (0 until 16).map(_.toByte).toArray ++ Array[Byte](99, 99, 99)
    val media = Seq(Multimodal.MediaRow(3L, blob, "image/fake")).toDS()
    val r = Multimodal.resizeBlocks(media, w = 4, factor = 2).collect()
    assert(r.length == 1 && r(0).out_w == 2 && r(0).out_h == 2)
    // blocks: {0,1,4,5}->2  {2,3,6,7}->4  {8,9,12,13}->10  {10,11,14,15}->12
    assert(r(0).media.toSeq == Seq[Byte](2, 4, 10, 12))
    assert(r(0).head == 2)
    assert(r(0).checksum == 2 + 4 + 10 + 12)
    // floor mean, not rounding: {0,1,4,6} sums to 11 -> 2 (not 3)
    val odd = Seq(Multimodal.MediaRow(4L,
      Array[Byte](0, 1, 2, 3, 4, 6, 7, 8), "image/fake")).toDS()
    assert(Multimodal.resizeBlocks(odd, w = 4, factor = 2)
      .collect()(0).media.head == 2.toByte)
    // high bytes stay unsigned through the mean (0xFF avg 0xFD = 0xFE)
    val hi = Seq(Multimodal.MediaRow(5L,
      Array[Byte](-1, -1, -3, -3), "image/fake")).toDS()
    val hr = Multimodal.resizeBlocks(hi, w = 2, factor = 2).collect()(0)
    assert((hr.media.head & 0xff) == 0xfe && hr.checksum == 0xfe && hr.head == 0xfe)
    // blobs with no complete factor-block of full rows emit nothing
    val short = Seq(Multimodal.MediaRow(6L, Array[Byte](1, 2, 3, 4, 5), "image/fake")).toDS()
    assert(Multimodal.resizeBlocks(short, w = 4, factor = 2).count() == 0)
    // width must divide by factor
    intercept[IllegalArgumentException] {
      Multimodal.resizeBlocks(media, w = 5, factor = 2)
    }
  }

  test("windowed features: overlap, exact energies, tail crop, unsigned bytes") {
    import spark.implicits._
    import graft.ops.Multimodal
    // 10 bytes, win=4 hop=2 -> full windows at 0,2,4,6 (start 8 would need
    // bytes 8..11 — cropped); energies are exact byte sums over the overlap
    val blob = (1 to 10).map(_.toByte).toArray
    val media = Seq(Multimodal.MediaRow(9L, blob, "audio/fake")).toDS()
    val got = Multimodal.windowedFeatures(media, win = 4, hop = 2)
      .collect().sortBy(_.win_idx)
    assert(got.map(_.win_idx).toSeq == Seq(0, 1, 2, 3))
    assert(got.forall(_.n_windows == 4))
    assert(got.map(_.energy).toSeq == Seq(1 + 2 + 3 + 4, 3 + 4 + 5 + 6, 5 + 6 + 7 + 8, 7 + 8 + 9 + 10))
    assert(got.forall(_.fp.length == 32))
    // overlapping identical content -> identical fingerprints
    val rep = Seq(Multimodal.MediaRow(10L, Array.fill[Byte](8)(7), "audio/fake")).toDS()
    val reps = Multimodal.windowedFeatures(rep, win = 4, hop = 2).collect()
    assert(reps.map(_.fp).distinct.length == 1)
    // bytes stay unsigned in the energy sum
    val hi = Seq(Multimodal.MediaRow(11L, Array.fill[Byte](4)(-1), "audio/fake")).toDS()
    assert(Multimodal.windowedFeatures(hi, win = 4, hop = 4).collect()(0).energy == 4 * 0xff)
    // blobs shorter than one window emit nothing
    val short = Seq(Multimodal.MediaRow(12L, Array[Byte](1, 2), "audio/fake")).toDS()
    assert(Multimodal.windowedFeatures(short, win = 4, hop = 2).count() == 0)
  }

  test("resize differential: matches an in-memory reference over random blobs") {
    import spark.implicits._
    import graft.ops.Multimodal
    val rnd = new scala.util.Random(421)
    def reference(bytes: Array[Byte], w: Int, f: Int): Option[(Int, Int, Seq[Byte], Long)] = {
      val ow = w / f
      val oh = (bytes.length / w) / f
      if (oh == 0) None else Some {
        val px = for (r <- 0 until oh; c <- 0 until ow) yield {
          val block = for (dr <- 0 until f; dc <- 0 until f)
            yield bytes((r * f + dr) * w + c * f + dc) & 0xff
          (block.sum / (f * f)).toByte
        }
        (ow, oh, px, px.map(_ & 0xff).map(_.toLong).sum)
      }
    }
    for ((w, f) <- Seq((16, 2), (16, 4), (8, 2), (4, 4), (6, 3))) {
      val rows = (0 until 40).map { i =>
        // lengths straddle the crop boundaries, bytes use the full range
        val n = rnd.nextInt(4 * w * f + 3)
        Multimodal.MediaRow(i.toLong, Array.fill(n)(rnd.nextInt(256).toByte), "image/fake")
      }
      val got = Multimodal.resizeBlocks(rows.toDS(), w, f).collect()
        .map(r => r.doc_id -> ((r.out_w, r.out_h, r.media.toSeq, r.checksum))).toMap
      val want = rows.flatMap(r => reference(r.media, w, f).map(r.doc_id -> _)).toMap
      assert(got == want, s"mismatch at w=$w factor=$f")
    }
  }
}
