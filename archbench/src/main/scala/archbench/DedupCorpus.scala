package archbench

import java.nio.file.Path

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.Dedup

/** Seeded corpus batches with planted near-duplicate families, each
  * pushed through the full near-dup pipeline: shingle → MinHash
  * signature and LSH bands → exact-Jaccard verification →
  * `removeNearDups`, writing the surviving documents. No engine layer
  * runs here.
  *
  * A batch is 10 000 documents, a tenth of the smallest corpus of the
  * pipeline axes in SCALE.md (100k documents on 32 cores; this
  * benchmark targets 4). At that size the Spark tasks of a pass take
  * about half of its core time; at 500 documents the fixed per-job,
  * planning and codegen cost took almost all of it. */
object DedupCorpus extends Workload {
  val name = "dedup_corpus"
  val primary = "dedup"

  val Docs = 10000
  val Words = 50
  val Vocab = 5000
  /** Documents per planted family: a family starts every 25 documents. */
  val FamilyShare = 25
  val Shingle = 3
  val K = 64
  val RowsPerBand = 2
  val Threshold = 0.7
  val SampledPairs = 20
  val WarmupPasses = 2
  /** `--seconds` of work one pass stands for. */
  val PassSec = 5.0

  /** One batch: documents (id, text) and the planted families as
    * (base id, variant ids). Variants differ from their base in one
    * word, so every planted pair is far above the threshold; unrelated
    * documents share almost no shingles. */
  def batch(seed: Long, b: Int): (Seq[(Long, String)], Seq[(Long, Seq[Long])]) = {
    val rnd = new scala.util.Random(seed * 1000003L + b)
    def word() = "w" + rnd.nextInt(Vocab)
    val base = Array.fill(Docs)(Array.fill(Words)(word()))
    val families = Docs / FamilyShare
    val text = base.map(_.clone())
    val idOf = (i: Int) => b * 1000000L + i
    // families: a base document and 1-3 one-word variants taking the
    // slots right after it
    val fams = (0 until families).map { f =>
      val b0 = f * FamilyShare
      val n = 1 + rnd.nextInt(3)
      val vs = (1 to n).map { v =>
        val d = base(b0).clone()
        d(rnd.nextInt(Words)) = "x" + rnd.nextInt(Vocab)
        text(b0 + v) = d
        idOf(b0 + v)
      }
      idOf(b0) -> vs
    }
    (text.indices.map(i => idOf(i) -> text(i).mkString(" ")), fams)
  }

  def frame(ctx: Ctx, docs: Seq[(Long, String)]): DataFrame =
    ctx.spark.createDataFrame(docs).toDF("id", "text")

  def inputChecksums(ctx: Ctx): Seq[(String, String)] =
    (0 until 3).map { b =>
      val (docs, fams) = batch(ctx.seed, b)
      s"batch_$b" -> Checksum.string(docs.mkString("\n") + fams.mkString)
    }

  /** Jaccard of two documents' distinct word-shingle sets, by brute force. */
  def jaccard(a: String, b: String): Double = {
    def sh(s: String) = s.split(" +").sliding(Shingle).map(_.mkString(" ")).toSet
    val (x, y) = (sh(a), sh(b))
    (x intersect y).size.toDouble / (x union y).size
  }

  def prepare(ctx: Ctx, root: Path): Run = {
    // set-up is the corpus generation of the first batches
    val first = (0 until 4).map(b => batch(ctx.seed, b))
    new DedupRun(ctx, root, first)
  }

  final class DedupRun(ctx: Ctx, root: Path,
      first: Seq[(Seq[(Long, String)], Seq[(Long, Seq[Long])])]) extends Run {
    private var passes = 0
    private var docsIn = 0L
    private var failures = Vector.empty[String]

    private def input(b: Int) =
      if (b < first.size) first(b) else batch(ctx.seed, b)

    /** One full pipeline pass, writing the survivors to `out`; returns
      * the materialized candidate and verified-pair frames. */
    private def pass(docs: DataFrame, out: Path): (DataFrame, DataFrame) = {
      val hsh = ctx.span("dedup.shingle") {
        Dedup.hashedShingles(docs, "id", "text", Shingle)
      }
      val cands = ctx.span("dedup.band") {
        Dedup.candidatesFromSignatures(
          Dedup.signaturesFromHashed(hsh, K), K, RowsPerBand).localCheckpoint()
      }
      val pairs = ctx.span("dedup.verify") {
        Dedup.verifyJaccardPairs(hsh, cands, Threshold).localCheckpoint()
      }
      ctx.span("dedup.cc") {
        Dedup.removeNearDups(docs, "id", pairs).write.parquet(out.toString)
      }
      (cands, pairs)
    }

    /** Two full-size passes: after one, pass times still fell by a
      * fifth from one pass to the next while the JIT caught up. */
    def warmup(): Unit = (1 to WarmupPasses).foreach { w =>
      val (docs, _) = batch(ctx.seed, -w)
      pass(frame(ctx, docs), root.resolve("warmup").resolve(s"pass=$w"))
    }

    /** One pass per [[PassSec]] of `seconds`, at least three. */
    def timedOps(seconds: Double): Int =
      math.max(3, math.round(seconds / PassSec).toInt)

    def op(i: Int): Op = {
      val b = passes
      val (docs, fams) = input(b)
      val df = frame(ctx, docs)
      val out = root.resolve(s"pass=$b")
      var res: (DataFrame, DataFrame) = null
      val op = ctx.timedOp(i) {
        res = pass(df, out)
        Op("dedup", docs.size, 0)
      }
      passes += 1; docsIn += docs.size
      val (cands, pairs) = res
      val pairRows = pairs.select("i", "j", "jaccard_ppm").collect()
      failures ++= checkPass(b, docs, fams, pairRows,
        ctx.spark.read.parquet(out.toString).select("id").collect()
          .map(_.getLong(0)).toSet)
      if (ctx.trace) op.extra = Map("candidates" -> cands.count().toDouble,
        "pairs" -> pairRows.length.toDouble)
      op
    }

    private def checkPass(b: Int, docs: Seq[(Long, String)],
        fams: Seq[(Long, Seq[Long])], pairs: Array[org.apache.spark.sql.Row],
        kept: Set[Long]): Seq[String] = {
      val text = docs.toMap
      // every planted family collapses to exactly one survivor, and
      // nothing else is removed
      val lost = fams.filter { case (f, vs) => (f +: vs).count(kept) != 1 }
      val planted = fams.map(_._2.size).sum
      val famMsg =
        if (lost.isEmpty && kept.size == docs.size - planted) None
        else Some(s"batch $b: ${lost.size} families not collapsed, " +
          s"${kept.size} survivors, want ${docs.size - planted}")
      // a seeded sample of reported pairs passes a brute-force recompute
      val rnd = new scala.util.Random(ctx.seed + b)
      val sample = rnd.shuffle(pairs.toSeq).take(SampledPairs)
      val bad = sample.filter { r =>
        val j = jaccard(text(r.getLong(0)), text(r.getLong(1)))
        j < Threshold || math.abs(j - r.getLong(2) / 1e6) > 1e-3
      }
      val pairMsg =
        if (sample.nonEmpty && bad.isEmpty) None
        else Some(s"batch $b: ${bad.size} of ${sample.size} sampled pairs " +
          "fail the brute-force Jaccard recompute")
      famMsg.toSeq ++ pairMsg
    }

    def checksAttempted: Int = 2 * passes

    def check(): Seq[String] = failures

    def bytesPerRow(): Double =
      (Fs.bytes(root) - Fs.bytes(root.resolve("warmup"))).toDouble / docsIn
  }
}
