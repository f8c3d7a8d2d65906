package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.text.{Packing, PiiScrub, QualityClassifier}

/** Corpus curation: weak-label quality gate → PII scrub → exact dedup
  * → banded MinHash near-dup pairs → dup clusters → sequence packing,
  * over a seeded corpus with planted junk, PII, exact copies and
  * near-dup clusters; the curated corpus is written, and new arrivals
  * are then deduplicated against it as a stream ([[Arrivals]]). A
  * fixed long edit chain is clustered as a side operation each round.
  */
final class Curate(spark: SparkSession, seed: Long) extends Workload {
  import spark.implicits._

  val n = 7; val b = 32; val r = 2; val threshold = 0.7; val budget = 256L
  val chainLength = 150

  private val texts = new Texts(seed)
  private val rnd = new Random(seed * 31 + 7)

  // planted corpus: every group keeps exactly its min id
  private val docs = mutable.ArrayBuffer[(Long, String)]()
  private val survivors = mutable.Set[Long]()
  private val junkIds = mutable.Set[Long]()
  private val piiStrings = mutable.ArrayBuffer[String]()
  private val plainSingletons = mutable.ArrayBuffer[(Long, Vector[String])]()
  private val ids = rnd.shuffle((0 until 4000).map(i => 1000L + 3L * i).toVector).iterator

  private def words(): Int = 40 + rnd.nextInt(21)
  private def group(texts: Seq[String]): Unit = {
    val gid = texts.map(t => { val id = ids.next(); docs += id -> t; id })
    survivors += gid.min
  }
  private def withPii(w: Vector[String]): Vector[String] = {
    val pii = if (rnd.nextBoolean()) texts.email(rnd) else texts.phone(rnd)
    piiStrings += pii
    w.patch(rnd.nextInt(w.size), Seq(pii), 0)
  }
  for (i <- 0 until 450) {
    val w = texts.prose(rnd, words())
    group(Seq((if (i % 9 == 0) withPii(w) else w).mkString(" ")))
    if (i % 9 != 0) plainSingletons += docs.last._1 -> w
  }
  for (i <- 0 until 30) {
    val w = texts.prose(rnd, words())
    val t = (if (i % 6 == 0) withPii(w) else w).mkString(" ")
    group(Seq.fill(2 + rnd.nextInt(2))(t))
  }
  for (_ <- 0 until 30) {
    val base = texts.prose(rnd, words())
    group(base.mkString(" ") +: Seq.fill(3)(texts.variant(rnd, base, 2).mkString(" ")))
  }
  for (_ <- 0 until 60) {
    val id = ids.next(); junkIds += id; docs += id -> texts.junk(rnd, words()).mkString(" ")
  }
  private val corpusRows = rnd.shuffle(docs.toVector)
  private val dedupInputDocs = corpusRows.size - junkIds.size
  val arrivals = new Arrivals(spark, seed, texts, plainSingletons.toIndexedSeq)

  /** Seed-independent chain: each link replaces one word of the last,
    * ids ascending along it, so min-label propagation needs about
    * diameter rounds.
    */
  private val chain: Vector[(Long, String)] = {
    val ct = new Texts(0L)
    val cr = new Random(0L)
    Iterator.iterate(ct.prose(cr, 50))(d => ct.variant(cr, d, 1)).take(chainLength)
      .zipWithIndex.map { case (d, i) => (9000000L + i, d.mkString(" ")) }.toVector
  }

  private var dir = ""
  def stage(d: String): Unit = {
    corpusRows.toDF("doc_id", "text").repartition(4).write.parquet(s"$d/corpus")
    chain.toDF("doc_id", "text").repartition(4).write.parquet(s"$d/chain")
    arrivals.stage(d)
    dir = d
  }

  // outputs of the latest round
  private var deduped: DataFrame = _
  private var pairs: DataFrame = _
  private var kept: DataFrame = _
  private var curatedDir = ""
  private var chainResult: Either[Throwable, Array[(Long, Long)]] = Right(Array.empty)

  def pass(p: Pass): Unit = {
    curatedDir = s"$dir/pass${p.index}/curated"
    val raw = spark.read.parquet(s"$dir/corpus")
    val gated = p.op("text", "quality_gate") {
      val labeled = raw.withColumn("wl", QualityClassifier.weakLabel($"text"))
      val model = QualityClassifier.train(labeled, "text", "wl", numFeatures = 1 << 12)
      QualityClassifier.score(model, raw, "text").filter($"quality_score" >= 0.5)
        .select($"doc_id", $"text").localCheckpoint()
    }
    val scrubbed = p.op("text", "pii_scrub")(
      gated.withColumn("text", PiiScrub.scrub($"text")).localCheckpoint())
    deduped = p.op("dedup", "exact_dedup") {
      val keep = Dedup.exactDedup(scrubbed, "doc_id", "text").select($"doc_id")
      scrubbed.join(keep, "doc_id").localCheckpoint()
    }
    pairs = p.op("dedup", "near_dup")(
      Dedup.minhashNearDupBanded(deduped, "doc_id", "text", n, b, r, seed, threshold))
    kept = p.op("dedup", "dup_clusters") {
      val cl = Dedup.dupClusters(deduped.select($"doc_id"), "doc_id", pairs)
        .withColumnRenamed("id", "doc_id")
      deduped.join(cl, "doc_id").filter($"cluster" === $"doc_id").select($"doc_id", $"text")
    }
    p.op("text", "pack") {
      Packing.packSequences(
          kept.withColumn("n_tokens", size(split(trim($"text"), "\\s+")).cast("long")),
          $"doc_id", $"n_tokens", budget)
        .select($"doc_id", $"text", $"n_tokens", $"bin").write.parquet(curatedDir)
    }
    arrivals.run(p, s"$dir/in", s"$dir/pass${p.index}/arrivals",
      spark.read.parquet(curatedDir).select($"doc_id", $"text"))
  }

  private def curatedText: Map[Long, String] =
    spark.read.parquet(curatedDir).select($"doc_id", $"text").as[(Long, String)].collect().toMap

  override def sideOps(p: Pass): Unit = {
    chainResult = p.tryOp("dedup", "edit_chain_clusters") {
      val c = spark.read.parquet(s"$dir/chain")
      val cp = Dedup.minhashNearDupBanded(c, "doc_id", "text", n, b, r, 42L, threshold)
      Dedup.dupClusters(c.select($"doc_id"), "doc_id", cp)
        .select($"id", $"cluster").as[(Long, Long)].collect()
    }
  }

  def check(): Seq[String] = {
    val problems = mutable.ArrayBuffer[String]()
    val keptIds = kept.select($"doc_id").as[Long].collect().toSet
    val packed = spark.read.parquet(curatedDir).select($"doc_id", $"n_tokens", $"bin")
      .as[(Long, Long, Long)].collect()
    val missing = survivors -- keptIds
    val extra = keptIds -- survivors
    if (missing.nonEmpty) problems += s"curate: ${missing.size} planted survivors removed, e.g. ${missing.take(3)}"
    if (extra.nonEmpty) problems += s"curate: ${extra.size} docs kept that planted junk/copies/near-dups should remove, " +
      s"e.g. ${extra.take(3)} (junk among them: ${(extra & junkIds).size})"

    // reported pairs: driver-recomputed shingle Jaccard ≥ threshold
    val text = deduped.select($"doc_id", $"text").as[(Long, String)].collect().toMap
    val sh = mutable.Map[Long, Set[String]]()
    def shOf(id: Long) = sh.getOrElseUpdate(id, Texts.shingles(text(id), n))
    val reported = pairs.select($"id_a", $"id_b").as[(Long, Long)].collect()
    val low = reported.filter { case (a, bb) => Texts.jaccard(shOf(a), shOf(bb)) < threshold - 1e-12 }
    if (low.nonEmpty) problems += s"curate: ${low.length} reported pairs below Jaccard $threshold, e.g. ${low.head}"

    // PII: independent patterns and the planted strings themselves
    val email = """\S+@\S+\.\w+""".r
    val phone = """\d{3}\D{1,2}\d{3}\D\d{4}""".r
    val keptText = keptIds.toSeq.flatMap(text.get)
    val leaks = keptText.filter(t => email.findFirstIn(t).isDefined || phone.findFirstIn(t).isDefined ||
      piiStrings.exists(t.contains))
    if (leaks.nonEmpty) problems += s"curate: ${leaks.size} survivors still carry PII, e.g. ${leaks.head.take(80)}"

    // packing: every survivor exactly once; each doc starts inside its bin's budget window
    val packedIds = packed.map(_._1)
    if (packedIds.length != packedIds.distinct.length || packedIds.toSet != keptIds)
      problems += s"curate: packing covers ${packedIds.length} rows for ${keptIds.size} survivors"
    var start = 0L
    packed.sortBy(_._1).foreach { case (id, nt, bin) =>
      if (nt > budget || bin != start / budget)
        problems += s"curate: doc $id (tokens $nt, start $start) packed into bin $bin"
      start += nt
    }

    // the edit chain: its graph must be long; clustering either fails to
    // converge (the known fault) or yields one cluster labelled by the min id
    val chainSh = chain.map { case (_, t) => Texts.shingles(t, n) }
    val adj = chainSh.indices.map(i => chainSh.indices.filter(j =>
      j != i && Texts.jaccard(chainSh(i), chainSh(j)) >= threshold))
    val ecc = bfs(adj, 0)
    chainDiameter = ecc.max
    if (ecc.exists(_ < 0)) problems += "curate: edit chain is not connected at the threshold"
    else if (ecc.max <= 20) problems += s"curate: edit chain diameter ${ecc.max} is not above 20"
    chainResult match {
      case Left(e: IllegalStateException) if e.getMessage.contains("did not converge") => ()
      case Left(e) => problems += s"curate: edit chain clustering failed: $e"
      case Right(rows) =>
        val minId = chain.head._1
        if (rows.length != chain.size || rows.exists(_._2 != minId))
          problems += s"curate: edit chain split into ${rows.map(_._2).distinct.length} clusters"
    }
    problems ++= arrivals.check(curatedText)
    problems.toSeq.take(12)
  }

  private var chainDiameter = -1

  private def bfs(adj: IndexedSeq[Seq[Int]], src: Int): Array[Int] = {
    val dist = Array.fill(adj.size)(-1)
    dist(src) = 0
    val q = mutable.Queue(src)
    while (q.nonEmpty) { val u = q.dequeue(); adj(u).foreach(v => if (dist(v) < 0) { dist(v) = dist(u) + 1; q += v }) }
    dist
  }

  private def dedupS(p: Pass): Double = p.times("exact_dedup") + p.times("near_dup") + p.times("dup_clusters")

  def namedMetrics(ps: Seq[Pass]): Map[String, Double] = arrivals.namedMetrics(ps) ++ Map(
    "gate_scrub_s" -> Stats.median(ps.map(p => p.times("quality_gate") + p.times("pii_scrub"))),
    "batch_dedup_s" -> Stats.median(ps.map(dedupS)),
    "dedup_docs_per_s" -> Stats.median(ps.map(p => dedupInputDocs / dedupS(p))),
    "pack_s" -> Stats.median(ps.map(_.times("pack"))),
    "edit_chain_diameter" -> chainDiameter.toDouble,
    "edit_chain_s" -> Stats.median(ps.map(_.times("edit_chain_clusters"))),
    "corpus_docs" -> corpusRows.size.toDouble, "dedup_input_docs" -> dedupInputDocs.toDouble)

  override def layerExtras(ps: Seq[Pass], t: Tracer): Map[String, Double] = {
    // candidates recounted through the public banding steps, in a span
    // that belongs to no layer
    val cands = Spans("bench", "candidate_recount") {
      val sig = Dedup.shingled(deduped, "doc_id", "text", n)
        .withColumn("hs", Dedup.shingleHashes($"sh"))
        .select($"id", Dedup.minhashSignature($"hs", Dedup.permCoeffs(b * r, seed)).as("sig"))
      Dedup.lshCandidatesBanded(sig, b, r).count().toDouble
    }
    val a = arrivals.layerExtras(ps, t, curatedText)
    val all = cands + a("candidate_pairs")
    val verified = pairs.count() + a("verified_pairs")
    a -- Seq("candidate_pairs", "verified_pairs") ++ Map("dedup.candidate_pairs" -> all,
      "dedup.verified_pairs" -> verified, "dedup.pair_yield" -> (if (all > 0) verified / all else 0.0))
  }
}
