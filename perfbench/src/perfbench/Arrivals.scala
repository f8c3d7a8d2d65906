package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.dedup.Dedup
import graft.streaming.Streams

/** Newly arriving documents, deduplicated against a kept corpus as a
  * stream: staged microbatch files drained through
  * `Streams.minhashDedupSink` (file source, one file per trigger,
  * checkpointed foreachBatch). Each batch holds unique documents and
  * near-dups of the corpus, of earlier batches' documents and of
  * smaller-id batchmates.
  *
  * @param base corpus documents new arrivals may be near-dups of
  */
final class Arrivals(spark: SparkSession, seed: Long, texts: Texts,
    base: IndexedSeq[(Long, Vector[String])]) {
  import spark.implicits._

  val n = 7; val b = 32; val r = 2; val threshold = 0.62; val mhSeed = 7L
  val batches = 3
  val perBatch = Map("unique" -> 40, "of_corpus" -> 30, "of_earlier" -> 25, "in_batch" -> 25)

  private val rnd = new Random(seed * 613 + 11)
  private def words(): Vector[String] = texts.prose(rnd, 40 + rnd.nextInt(21))
  private def near(d: Vector[String]): Vector[String] = texts.variant(rnd, d, 2)
  private val ids = rnd.shuffle((0 until 10000).map(i => 20001L + 2L * i)).iterator

  /** (id, words, batch, planted source id or -1 for a unique doc) */
  val streamed: Vector[(Long, Vector[String], Int, Long)] = {
    val out = mutable.ArrayBuffer[(Long, Vector[String], Int, Long)]()
    for (k <- 0 until batches) {
      val uniq = Vector.fill(perBatch("unique"))((ids.next(), words()))
      val earlier = out.filter(x => x._3 < k && x._4 < 0)
      val nOfEarlier = if (earlier.isEmpty) 0 else perBatch("of_earlier")
      val ofCorpus = Vector.fill(perBatch("of_corpus") + perBatch("of_earlier") - nOfEarlier) {
        val (sid, w) = base(rnd.nextInt(base.size)); (ids.next(), near(w), sid)
      }
      val ofEarlier = Vector.fill(nOfEarlier) {
        val s = earlier(rnd.nextInt(earlier.size)); (ids.next(), near(s._2), s._1)
      }
      // each in-batch near-dup gets a larger id than its (unique) source
      val sources = rnd.shuffle(uniq.indices.toVector).take(perBatch("in_batch"))
      val uniqIds = uniq.map(_._1).toArray
      val inBatch = sources.map { i =>
        val id = ids.next()
        val (lo, hi) = (math.min(id, uniqIds(i)), math.max(id, uniqIds(i)))
        uniqIds(i) = lo
        (hi, near(uniq(i)._2), lo)
      }
      uniq.indices.foreach(i => out += ((uniqIds(i), uniq(i)._2, k, -1L)))
      (ofCorpus ++ ofEarlier ++ inBatch).foreach { case (id, w, s) => out += ((id, w, k, s)) }
    }
    out.toVector
  }
  private val batchOf = streamed.map(s => s._1 -> s._3).toMap
  private val streamText = streamed.map(s => s._1 -> s._2.mkString(" ")).toMap

  /** One parquet file per batch, modification times in batch order. */
  def stage(d: String): Unit = {
    new java.io.File(s"$d/in").mkdirs()
    for (k <- 0 until batches) {
      new Random(seed + k).shuffle(streamed.filter(_._3 == k)).map(s => (s._1, s._2.mkString(" ")))
        .toDF("doc_id", "text").coalesce(1).write.parquet(s"$d/stage_$k")
      val part = new java.io.File(s"$d/stage_$k").listFiles()
        .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
        .getOrElse(sys.error(s"no part file in $d/stage_$k"))
      val dst = new java.io.File(s"$d/in", f"b$k%03d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(1700000000000L + k * 60000L)
    }
  }

  private var survivors: Array[(Long, Long)] = Array.empty
  private var lastProgress: Seq[StreamingQueryProgress] = Nil

  /** Build the sink over `corpus`, drain the staged batches, read back. */
  def run(p: Pass, inDir: String, outDir: String, corpus: DataFrame): Unit = {
    val in = spark.readStream.schema(corpus.schema).option("maxFilesPerTrigger", "1").parquet(inDir)
    val q = p.op("streaming", "sink_build")(Streams.minhashDedupSink(in, corpus, "doc_id", "text",
      n, b, r, mhSeed, threshold, s"$outDir/out", s"$outDir/ckpt"))
    try p.op("streaming", "drain")(q.processAllAvailable())
    finally q.stop()
    lastProgress = q.recentProgress.filter(_.numInputRows > 0).toSeq
    p.values("batches") = lastProgress.size
    lastProgress.zipWithIndex.foreach { case (pr, i) =>
      p.values(s"batch$i") = pr.durationMs.get("triggerExecution").doubleValue / 1e3
    }
    survivors = p.op("streaming", "readback")(spark.read.parquet(s"$outDir/out")
      .select($"doc_id", $"batch_id").as[(Long, Long)].collect())
  }

  /** @param corpusText the kept corpus the sink ran against */
  def check(corpusText: Map[Long, String]): Seq[String] = {
    val problems = mutable.ArrayBuffer[String]()
    val ids = survivors.map(_._1)
    if (ids.distinct.length != ids.length) problems += s"arrivals: ${ids.length - ids.distinct.length} survivor ids written twice"
    if (lastProgress.size != batches) problems += s"arrivals: ${lastProgress.size} microbatches for $batches staged files"
    val kept = ids.toSet
    val unknown = kept -- batchOf.keySet
    if (unknown.nonEmpty) problems += s"arrivals: survivors ${unknown.take(3)} were never streamed"
    val lostUnique = streamed.filter(s => s._4 < 0 && !kept(s._1))
    if (lostUnique.nonEmpty) problems += s"arrivals: ${lostUnique.size} planted unique docs dropped, e.g. ${lostUnique.head._1}"
    val keptDup = streamed.filter(s => s._4 >= 0 && kept(s._1))
    if (keptDup.nonEmpty) problems += s"arrivals: ${keptDup.size} planted near-dups kept, e.g. ${keptDup.head._1}"
    // every dropped doc has a witness at Jaccard ≥ threshold: a corpus doc,
    // an earlier batch's survivor or a smaller-id batchmate
    val text = corpusText ++ streamText
    val sh = mutable.Map[Long, Set[String]]()
    def shOf(id: Long) = sh.getOrElseUpdate(id, Texts.shingles(text(id), n))
    def eligible(d: Long, w: Long): Boolean = {
      val k = batchOf(d)
      batchOf.get(w).forall(bw => bw < k && kept(w) || bw == k && w < d)
    }
    val plantedSource = streamed.map(s => s._1 -> s._4).toMap
    val unexplained = streamed.map(_._1).filterNot(kept).filterNot { d =>
      (Iterator(plantedSource(d)).filter(text.contains) ++ text.keysIterator)
        .exists(w => w != d && eligible(d, w) && Texts.jaccard(shOf(d), shOf(w)) >= threshold)
    }
    if (unexplained.nonEmpty) problems += s"arrivals: ${unexplained.size} dropped docs without a witness, e.g. ${unexplained.head}"
    problems.toSeq
  }

  def batchTimes(ps: Seq[Pass]): Seq[Double] =
    ps.flatMap(p => (0 until p.values("batches").toInt).map(i => p.values(s"batch$i")))

  def docsPerS(p: Pass): Double = streamed.size / p.times("drain")

  def namedMetrics(ps: Seq[Pass]): Map[String, Double] = Map(
    "sink_build_s" -> Stats.median(ps.map(_.times("sink_build"))),
    "microbatch_p50_s" -> Stats.median(batchTimes(ps)),
    "stream_docs_per_s" -> Stats.median(ps.map(docsPerS)),
    "streamed_docs" -> streamed.size.toDouble, "stream_survivors" -> survivors.length.toDouble)

  /** streaming.* figures, and the dedup candidates the sink's banding
    * yields, recounted through the public banding steps over corpus ∪
    * arrivals and kept to the pairs the sink compares.
    */
  def layerExtras(ps: Seq[Pass], t: Tracer, corpusText: Map[Long, String]): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val inPass = (time: Long) => ps.exists(p => time >= p.start && time <= p.end)
    val prog = t.progress.asScala.toSeq.filter(pr => pr.rows > 0 && inPass(pr.time))
    val streamingJobs = t.jobLayers().count { case (j, l) => l.contains("streaming") && inPass(j.start) }
    val text = corpusText ++ streamText
    val all = Spans("bench", "arrival_candidate_recount") {
      val sig = Dedup.shingled(text.toSeq.toDF("doc_id", "text"), "doc_id", "text", n)
        .withColumn("hs", Dedup.shingleHashes($"sh"))
        .select($"id", Dedup.minhashSignature($"hs", Dedup.permCoeffs(b * r, mhSeed)).as("sig"))
      Dedup.lshCandidatesBanded(sig, b, r).as[(Long, Long)].collect()
    }
    val kept = survivors.map(_._1).toSet
    def compared(nw: Long, old: Long): Boolean = batchOf.get(nw).exists { k =>
      batchOf.get(old).forall(bo => bo < k && kept(old) || bo == k)
    }
    val cands = all.filter { case (a, bb) => compared(a, bb) || compared(bb, a) }
    val verified = cands.count { case (a, bb) =>
      Texts.jaccard(Texts.shingles(text(a), n), Texts.shingles(text(bb), n)) >= threshold }
    Map("streaming.batches" -> prog.size.toDouble / ps.size,
      "streaming.jobs_per_batch" -> (if (prog.isEmpty) 0.0 else streamingJobs.toDouble / prog.size),
      "streaming.add_batch_s" -> (if (prog.isEmpty) 0.0 else Stats.median(prog.map(_.addBatchMs / 1e3))),
      "streaming.index_rows" -> (corpusText.size + survivors.length).toDouble,
      "candidate_pairs" -> cands.length.toDouble, "verified_pairs" -> verified.toDouble)
  }
}
