package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.minhash_from_tokens
import graft.ops.Dedup
import graft.util.PersistScope

/** `near_dup`: one operation runs `Dedup.dropNearDuplicatesTransitive` over
  * a seeded corpus with planted near-copies: every 10th doc copies its
  * neighbour with one word changed, and every 50th pair grows into a chain
  * of three whose ends are only transitively similar. The call covers
  * MinHash bands, the band self-join, the Jaccard verify, connected
  * components and the anti-join; no detect work happens. */
final class NearDup(spark: SparkSession, seed: Long, tmp: String) extends Workload {
  import spark.implicits._

  private val nDocs = 2000
  private val threshold = 0.8
  private val checkedPairs = 200
  val item = "doc"
  def sizes: Map[String, Any] = Map("docs" -> nDocs, "threshold" -> threshold,
    "vocabulary" -> NearDup.Vocabulary)

  private var corpus: String = _
  private var texts: IndexedSeq[String] = IndexedSeq.empty
  private var planted: Seq[(Long, Long)] = Seq.empty
  private var expected: Option[Expected] = None

  private final case class Expected(survivors: Set[Long], verified: Set[(Long, Long)])

  def provision(dir: String): Unit = {
    val rnd = new Random(seed)
    val vocab = IndexedSeq.fill(NearDup.Vocabulary)(
      Seq.fill(3 + rnd.nextInt(6))(('a' + rnd.nextInt(26)).toChar).mkString)
    def fresh(): IndexedSeq[String] = IndexedSeq.fill(40 + rnd.nextInt(21))(vocab(rnd.nextInt(vocab.size)))
    def mutate(t: IndexedSeq[String]): IndexedSeq[String] = {
      val k = 3 + rnd.nextInt(t.size - 6)
      t.updated(k, vocab(rnd.nextInt(vocab.size)) + "x")
    }
    val docs = mutable.ArrayBuffer.empty[IndexedSeq[String]]
    val pairs = mutable.ArrayBuffer.empty[(Long, Long)]
    for (i <- 0 until nDocs) {
      val copy = i % 10 == 9 || i % 50 == 48
      docs += (if (copy) mutate(docs(i - 1)) else fresh())
      if (copy) pairs += ((i - 1).toLong -> i.toLong)
    }
    texts = docs.map(_.mkString(" ")).toIndexedSeq
    planted = pairs.toSeq
    corpus = s"$dir/corpus"
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .repartition(2 * spark.sparkContext.defaultParallelism).write.parquet(corpus)
    expected = None
  }

  private def out(i: Int) = s"$tmp/dedup-out/op=$i"
  private def docs: DataFrame = spark.read.parquet(corpus)

  def op(i: Int): Long = {
    try Dedup.dropNearDuplicatesTransitive(docs, "doc_id", "text", threshold).write.parquet(out(i))
    finally PersistScope.releaseAll()
    nDocs
  }

  /** Expected survivors from the verified pairs, each re-checked on the
    * driver; component labels must equal a driver-side union-find. */
  private def expect(): Either[String, Expected] = {
    val pairs = try Dedup.nearDuplicatePairs(docs, "doc_id", "text", threshold)
        .as[(Long, Long, Double)].collect().toSeq
      finally PersistScope.releaseAll()
    val rnd = new Random(seed)
    for ((a, b, j) <- rnd.shuffle(pairs).take(checkedPairs)) {
      val exact = NearDup.jaccard(texts(a.toInt), texts(b.toInt))
      if (exact < threshold || math.abs(exact - j) > 1e-9)
        return Left(s"pair ($a, $b) reported jaccard $j, recomputed $exact")
    }
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b, _) <- pairs) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val labels = try Dedup.connectedComponents(pairs.map(p => (p._1, p._2)).toDF("id1", "id2"))
        .as[(Long, Long)].collect().toMap
      finally PersistScope.releaseAll()
    val want = parent.keys.map(k => k -> find(k)).toMap
    if (labels != want) return Left("component labels differ from a driver-side union-find")
    val doomed = want.collect { case (k, r) if k != r => k }.toSet
    Right(Expected((0L until nDocs).filterNot(doomed).toSet, pairs.map(p => (p._1, p._2)).toSet))
  }

  def check(i: Int): Option[String] = try {
    if (expected.isEmpty) expect() match {
      case Left(msg) => return Some(msg)
      case Right(e) => expected = Some(e)
    }
    val e = expected.get
    val recall = planted.count(e.verified).toDouble / planted.size
    if (recall < 0.9) return Some(s"planted near-duplicate recall $recall below 0.9")
    val got = spark.read.parquet(out(i)).select("doc_id").as[Long].collect().toSet
    if (got != e.survivors)
      Some(s"${(got -- e.survivors).size} extra and ${(e.survivors -- got).size} missing survivors")
    else None
  } finally Bench.deleteRecursively(new java.io.File(out(i)))

  def traced(tr: Tracer, first: Int, ops: Int): Map[String, Double] = {
    val cached = Bench.materialize(docs)
    val layer = Seq.newBuilder[Map[String, Double]]
    val opSpans = (first until first + ops).map { i =>
      tr.op = i
      tr("op")(op(i))
      tr.drain()
      val opSpan = tr.last("op")
      check(i).foreach(m => throw new IllegalStateException(s"traced op $i: $m"))

      tr("ops.bands")(Bench.noop(Dedup.bands(cached, "doc_id", "text")))
      val b = Bench.materialize(Dedup.bands(cached, "doc_id", "text"))
      val sh = Bench.materialize(cached.select(col("doc_id").as("id"),
        array_distinct(Dedup.shingles(Dedup.tokens(col("text")))).as("s")))
      // The band self-join's distinct candidates, as nearDuplicatePairsFromFrames forms them.
      val candidatePairs = b.as("a").join(b.as("b"), col("a.band") === col("b.band") &&
          col("a.band_hash") === col("b.band_hash") && col("a.id") < col("b.id"))
        .select(col("a.id"), col("b.id")).distinct().count()
      tr("ops.pairs")(Bench.noop(Dedup.nearDuplicatePairsFromFrames(b, sh, threshold)))
      val pairs = Bench.materialize(
        Dedup.nearDuplicatePairsFromFrames(b, sh, threshold).select("id1", "id2"))
      val verified = pairs.count()
      val comp = tr("ops.cc") {
        val c = Dedup.connectedComponents(pairs)
        Bench.noop(c)
        c
      }
      val labels = Bench.materialize(comp)
      PersistScope.releaseAll()
      // The anti-join that ends dropNearDuplicatesTransitive, on its materialized inputs.
      val doomed = labels.filter(col("id") =!= col("cluster_id")).select(col("id").as("doc_id"))
      tr("ops.antijoin")(Bench.noop(cached.join(doomed, Seq("doc_id"), "left_anti")))
      val e = expected.get
      def busy(n: String) = tr.last(n).seconds
      layer += Map(
        "ops.bands_busy_s" -> busy("ops.bands"), "ops.pairs_busy_s" -> busy("ops.pairs"),
        "ops.cc_busy_s" -> busy("ops.cc"), "ops.antijoin_busy_s" -> busy("ops.antijoin"),
        "ops.candidate_pairs" -> candidatePairs.toDouble, "ops.verified_pairs" -> verified.toDouble,
        "ops.verify_yield" -> verified.toDouble / math.max(1L, candidatePairs),
        "ops.planted_recall" -> planted.count(e.verified).toDouble / planted.size,
        "trace.layer_sum_s" -> Seq("ops.bands", "ops.pairs", "ops.cc", "ops.antijoin").map(busy).sum)
      opSpan
    }
    val tokens = Bench.materialize(cached.select(Dedup.tokens(col("text")).as("t")))
    val kern = Kernels(spark, tr).nsPerRow("minhash_from_tokens", tokens,
      minhash_from_tokens(col("t"), Dedup.NumHashes))
    val shape = try PlanShape(Dedup.dropNearDuplicatesTransitive(cached, "doc_id", "text", threshold))
      finally PersistScope.releaseAll()
    val perLayer = layer.result()
    perLayer.head.keys.map(k => k -> Bench.median(perLayer.map(_(k)))).toMap ++
      Metrics.sparkRuntime(tr, opSpans, shape) ++ Map("ops.minhash_from_tokens_ns_per_row" -> kern)
  }
}

object NearDup {
  val Vocabulary = 4000

  /** Jaccard of the distinct word 3-gram sets, as Dedup verifies it. */
  def jaccard(a: String, b: String): Double = {
    def sh(t: String): Set[String] = {
      val w = t.split(" ", -1)
      if (w.length < 3) Set.empty else w.sliding(3).map(_.mkString(" ")).toSet
    }
    val (x, y) = (sh(a), sh(b))
    (x intersect y).size.toDouble / math.max((x union y).size, 1)
  }
}
