package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.{Connectors, WriteBack}
import graft.core.{CatalogColumn, Checksums, PiiTypes}
import graft.detect.{Metadata, Rules}
import graft.ensemble.{Calibrator, PiiEnsemble, Weights}
import graft.functions.pii_candidates
import graft.sample.Sampler
import graft.store.FindingsStore

/** `catalog_tag`: one operation is a full catalog scan pass, composed the way
  * `graft.cli.ScanCatalog.main` composes it, over a seeded in-memory session
  * catalog of small tables with planted PII and non-PII columns: enumerate
  * columns, metadata hints, per-column sample → detect → ensemble, findings
  * roll-up, `WriteBack.applyTags` (writes) and `applyTags` again (must
  * change nothing). Tags are unset outside the timer before the next pass.
  * Per-column fixed costs dominate (driver-side plan build, many tiny jobs,
  * metastore reads beside writes); row work is negligible. */
final class CatalogTag(spark: SparkSession, seed: Long, tmp: String) extends Workload {
  import spark.implicits._

  private val db = "bench_cat"
  private val nTables = 2
  private val nRows = 200
  private val sampleRows = 50
  private val stringCols = Seq("f0", "f1", "f2")
  val item = "column"
  def sizes: Map[String, Any] = Map("tables" -> nTables, "rows_per_table" -> nRows,
    "string_columns_per_table" -> stringCols.size, "sample_rows" -> sampleRows)

  // The first measured pass after a single warm-up still ran ~15% slow.
  override def warmupOps: Int = 2

  /** table -> column -> planted types (PII columns only). */
  private var planted: Map[String, Map[String, Set[String]]] = Map.empty
  private var lastApplied = -1
  private var lastAgain = -1

  def provision(dir: String): Unit = {
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    spark.sql(s"CREATE DATABASE $db LOCATION '$dir/$db.db'")
    val rnd = new Random(seed)
    planted = (0 until nTables).map { t =>
      // f0 holds one planted type, f1 two, f2 none.
      val types = rnd.shuffle(CatalogTag.Planted).take(3)
      val cols = Map("f0" -> Set(types(0)), "f1" -> Set(types(1), types(2)))
      val rows = (0 until nRows).map { r =>
        (r.toLong, CatalogTag.value(cols("f0"), rnd), CatalogTag.value(cols("f1"), rnd),
          CatalogTag.filler(rnd))
      }
      rows.toDF(("id" +: stringCols): _*).write.saveAsTable(s"$db.t$t")
      s"t$t" -> cols
    }.toMap
  }

  override def beforeOp(i: Int): Unit = for ((t, cols) <- planted) {
    val keys = (WriteBack.PiiFlagKey +: cols.keys.toSeq.map(WriteBack.typesKey)).map(k => s"'$k'")
    spark.sql(s"ALTER TABLE $db.$t UNSET TBLPROPERTIES IF EXISTS (${keys.mkString(", ")})")
  }

  /** The detection plan for every string column, as ScanCatalog builds it.
    * `step` times the named driver-side build steps. */
  private def detections(columns: Seq[CatalogColumn],
                         step: (String, () => DataFrame) => DataFrame): DataFrame = {
    val meta = columns.map(c => (s"${c.schema}.${c.table}.${c.column}", "name", c.column))
      .toDF("doc_id", "field", "value")
    val hints = Metadata.keywordCandidates(meta, Metadata.keywordTable(spark))
      .select(col("doc_id").as("column_ref"), col("rule_label").as("label"), lit(0.6).as("score"))
    val perColumn = columns.filter(_.dataType == "string").map { c =>
      val samples = step("sample.build", () => Sampler.sampleColumn(
        spark.table(s"`${c.schema}`.`${c.table}`"), c.column, sampleRows, mode = Sampler.Rand(42)))
      val cands = samples.toDF("value")
        .select(posexplode(pii_candidates(col("value").cast("string"))).as(Seq("idx", "c")))
      step("ensemble.build", () => PiiEnsemble.withPredictionOffline(cands,
          col("c.rule_label"), col("c.rule_confidence"), col("c.validations"),
          Calibrator.identity, Weights.runtimeDefault))
        .select(lit(s"${c.schema}.${c.table}.${c.column}").as("column_ref"),
          col("pred.label").as("label"), col("pred.score").as("score"))
    }
    step("cli.union_build", () => perColumn.reduceOption(_ unionByName _).getOrElse(hints.limit(0)))
      .unionByName(hints)
  }

  private def tags(findings: DataFrame): DataFrame = findings
    .withColumn("parts", split(col("column_ref"), "\\."))
    .select(element_at(col("parts"), 1).as("schema"), element_at(col("parts"), 2).as("table"),
      element_at(col("parts"), 3).as("column"), col("types"))

  private def enumerate(): Seq[CatalogColumn] =
    Connectors.iterColumns(spark, Seq(db), Seq("*")).collect().toSeq

  /** One pass; `step` wraps each stage (a span when traced). */
  private def pass(step: (String, () => Any) => Any): Long = {
    val columns = step("catalog.enumerate", () => enumerate()).asInstanceOf[Seq[CatalogColumn]]
    val t = tags(FindingsStore.toFindings(
      detections(columns, (n, f) => step(n, f).asInstanceOf[DataFrame]),
      modelVersion = "offline-0.1", source = "session-catalog"))
    lastApplied = step("catalog.writeback", () => WriteBack.applyTags(spark, t)).asInstanceOf[Int]
    lastAgain = step("catalog.reapply", () => WriteBack.applyTags(spark, t)).asInstanceOf[Int]
    columns.size
  }

  def op(i: Int): Long = pass((_, f) => f())

  def check(i: Int): Option[String] = {
    if (lastApplied != nTables) return Some(s"applyTags altered $lastApplied of $nTables tables")
    if (lastAgain != 0) return Some(s"second applyTags altered $lastAgain tables")
    for ((t, cols) <- planted) {
      val props = spark.sql(s"SHOW TBLPROPERTIES $db.$t").as[(String, String)].collect().toMap
      val got = props.collect { case (k, v) if k.startsWith("cps.pii_types.col.") =>
        k.stripPrefix("cps.pii_types.col.") -> v }
      val want = cols.map { case (c, ts) => c -> WriteBack.sortedCsv(ts.toSeq) }
      if (got != want) return Some(s"$t tags $got, planted $want")
      if (!props.get(WriteBack.PiiFlagKey).contains("true")) return Some(s"$t not flagged pii")
    }
    None
  }

  def traced(tr: Tracer, first: Int, ops: Int): Map[String, Double] = {
    val layer = Seq.newBuilder[Map[String, Double]]
    val opSpans = (first until first + ops).map { i =>
      tr.op = i
      beforeOp(i)
      tr("op")(pass((n, f) => tr(n)(f())))
      tr.drain()
      val opSpan = tr.last("op")
      check(i).foreach(m => throw new IllegalStateException(s"traced op $i: $m"))
      def childSum(n: String) = tr.spans.filter(s => s.parent == opSpan.id && s.name == n)
        .map(_.seconds).sum
      val inOp = Map(
        "catalog.enumerate_s" -> childSum("catalog.enumerate"),
        "sample.build_ms" -> childSum("sample.build") * 1e3,
        "ensemble.build_ms" -> childSum("ensemble.build") * 1e3,
        "cli.union_build_ms" -> childSum("cli.union_build") * 1e3)

      // Layers in isolation, each on its materialized input.
      val columns = enumerate()
      val strings = columns.filter(_.dataType == "string")
      val samples = tr("sample")(strings.map { c =>
        val ref = s"${c.schema}.${c.table}.${c.column}"
        Sampler.sampleColumn(spark.table(s"`${c.schema}`.`${c.table}`"), c.column, sampleRows,
          mode = Sampler.Rand(42)).collect().map(r => (ref, String.valueOf(r.get(0))))
      }).flatten
      val sampled = samples.toSeq.toDF("column_ref", "value")
      val candidates = sampled.select(col("column_ref"),
        posexplode(pii_candidates(col("value"))).as(Seq("idx", "c")))
      tr("detect.candidates")(Bench.noop(candidates))
      val cands = Bench.materialize(candidates)
      val nCands = cands.count()
      val pred = PiiEnsemble.withPredictionOffline(cands, col("c.rule_label"),
        col("c.rule_confidence"), col("c.validations"), Calibrator.identity, Weights.runtimeDefault)
      tr("ensemble")(Bench.noop(pred))
      val dets = Bench.materialize(pred.select(col("column_ref"), col("pred.label").as("label"),
        col("pred.score").as("score")))
      val findings = FindingsStore.toFindings(dets, "offline-0.1", "session-catalog")
      tr("store")(Bench.noop(findings))
      val localTags = tags(findings).collect()
      val tagFrame = spark.createDataFrame(spark.sparkContext.parallelize(localTags.toSeq, 1),
        tags(findings).schema)
      beforeOp(i)
      val applied = tr("catalog.writeback.isolated")(WriteBack.applyTags(spark, tagFrame))
      val again = tr("catalog.reapply.isolated")(WriteBack.applyTags(spark, tagFrame))
      tr.drain()
      val sampleSpan = tr.last("sample")
      def busy(n: String) = tr.last(n).seconds
      layer += inOp ++ Map(
        "catalog.columns" -> columns.size.toDouble,
        "sample.busy_s" -> sampleSpan.seconds,
        "sample.rows_read_per_sample" ->
          tr.sparkOf(sampleSpan).inputRecords.toDouble / math.max(1, samples.length),
        "detect.busy_s" -> busy("detect.candidates"),
        "detect.cpu_s" -> tr.sparkOf(tr.last("detect.candidates")).cpuNs / 1e9,
        "detect.rows" -> samples.length.toDouble, "detect.candidates" -> nCands.toDouble,
        "ensemble.busy_s" -> busy("ensemble"),
        "ensemble.cpu_s" -> tr.sparkOf(tr.last("ensemble")).cpuNs / 1e9,
        "ensemble.rows" -> nCands.toDouble,
        "store.busy_s" -> busy("store"), "store.findings" -> localTags.length.toDouble,
        "catalog.writeback_s" -> busy("catalog.writeback.isolated"),
        "catalog.tables_altered" -> applied.toDouble,
        "catalog.reapply_s" -> busy("catalog.reapply.isolated"),
        "catalog.reapply_altered" -> again.toDouble,
        "trace.layer_sum_s" -> (Seq("sample", "detect.candidates", "ensemble", "store",
          "catalog.writeback.isolated", "catalog.reapply.isolated").map(busy).sum +
          inOp("catalog.enumerate_s")))
      if (again != 0) throw new IllegalStateException(s"isolated reapply altered $again tables")
      opSpan
    }
    val shape = PlanShape(tags(FindingsStore.toFindings(detections(enumerate(), (_, f) => f()),
      "offline-0.1", "session-catalog")))
    val perLayer = layer.result()
    perLayer.head.keys.map(k => k -> Bench.median(perLayer.map(_(k)))).toMap ++
      Metrics.sparkRuntime(tr, opSpans, shape)
  }
}

object CatalogTag {
  /** Types a column can be planted with: every type a regex detector finds. */
  val Planted: Seq[String] = PiiTypes.ALL.filter(_ != PiiTypes.ADDRESS)

  private val words = Seq("alpha", "bravo", "delta", "echo", "golf", "hotel", "kilo", "lima",
    "oscar", "quebec", "romeo", "sierra", "tango", "victor", "whiskey", "yankee", "zulu")

  /** Lower-case words that no detector matches. */
  def filler(rnd: Random): String = Seq.fill(4 + rnd.nextInt(5))(words(rnd.nextInt(words.size))).mkString(" ")

  private def digits(rnd: Random, n: Int): String = Seq.fill(n)(rnd.nextInt(10)).mkString

  private def withCheckDigit(body: String, ok: String => Boolean): String =
    (0 to 9).map(body + _).find(ok).getOrElse(body + "0")

  private def token(t: String, rnd: Random): String = t match {
    case PiiTypes.EMAIL => s"${words(rnd.nextInt(words.size))}${rnd.nextInt(1000)}@example.org"
    case PiiTypes.PHONE_NUMBER => f"(${200 + rnd.nextInt(800)}) ${200 + rnd.nextInt(800)}-${rnd.nextInt(10000)}%04d"
    case PiiTypes.CREDIT_CARD =>
      withCheckDigit("4" + digits(rnd, 14), Checksums.luhn).grouped(4).mkString(" ")
    case PiiTypes.SSN => f"${100 + rnd.nextInt(900)}-${10 + rnd.nextInt(90)}-${1000 + rnd.nextInt(9000)}"
    case PiiTypes.IP_ADDRESS => Seq.fill(4)(1 + rnd.nextInt(254)).mkString(".")
    case PiiTypes.MAC_ADDRESS => Seq.fill(6)(f"${rnd.nextInt(256)}%02x").mkString(":")
    case PiiTypes.AADHAAR =>
      withCheckDigit((2 + rnd.nextInt(8)).toString + digits(rnd, 10), Checksums.verhoeff)
        .grouped(4).mkString(" ")
    case PiiTypes.PAN =>
      Seq.fill(5)(('A' + rnd.nextInt(26)).toChar).mkString + digits(rnd, 4) + ('A' + rnd.nextInt(26)).toChar
    case PiiTypes.PERSON =>
      Seq("Maria", "Lukas", "Priya", "Omar", "Chen").apply(rnd.nextInt(5)) + " " +
        Seq("Garcia", "Novak", "Iyer", "Haddad", "Wong").apply(rnd.nextInt(5))
    case PiiTypes.DATE => f"${1950 + rnd.nextInt(70)}-${1 + rnd.nextInt(12)}%02d-${1 + rnd.nextInt(28)}%02d"
  }

  /** A value the rules detect as exactly `types` (rejection-sampled). */
  def value(types: Set[String], rnd: Random): String = {
    val order = types.toSeq.sorted
    Iterator.continually(order.map(token(_, rnd)).mkString(" and "))
      .take(1000)
      .find(v => Rules.proposeCandidates(v).map(_.ruleLabel).toSet == types)
      .getOrElse(throw new IllegalStateException(s"no value detected as exactly $order"))
  }
}
