package graft.pipeline

import graft.{SharedSpark, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PipelineSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")))

  /** Reference single-machine BPE (the public Sennrich et al. 2016
    * learn_bpe algorithm, plain collections): overlapping pair counts
    * over word types weighted by frequency, argmax with the
    * (count DESC, pair lexicographic) tiebreak, left-to-right
    * non-overlapping merge — the ground truth [[TextAnalysis
    * .bpeTrain]]'s distributed loop must reproduce exactly.
    */
  private def refBpe(words: Map[String, Long], rounds: Int)
      : (Seq[(Long, String, String, Long)], Map[Vector[String], Long]) = {
    var vocab: Map[Vector[String], Long] = words.map { case (w, f) =>
      (w.split("").filter(_.nonEmpty).toVector :+ "</w>") -> f
    }
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    for (r <- 1 to rounds) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((seq, f) <- vocab; i <- 0 until seq.length - 1)
        counts((seq(i), seq(i + 1))) =
          counts.getOrElse((seq(i), seq(i + 1)), 0L) + f
      if (counts.nonEmpty) {
        val ((l, rt), n) =
          counts.toSeq.sortBy { case ((a, b), c) => (-c, a, b) }.head
        merges += ((r.toLong, l, rt, n))
        vocab = vocab.map { case (seq, f) =>
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < seq.length) {
            if (i + 1 < seq.length && seq(i) == l && seq(i + 1) == rt) {
              out += l + rt; i += 2
            } else { out += seq(i); i += 1 }
          }
          out.result() -> f
        }
      }
    }
    (merges.result(), vocab)
  }

  test("bpe trainer matches the reference single-machine BPE, round for round") {
    // the classic subword fixture (low/lower/newest/widest) plus an
    // overlap torture word family (aaa/aa/a: the (a,a) pair counts
    // overlapping occurrences but merges non-overlapping)
    val d = docs(
      1L -> "low low low low low lower lower newest newest",
      2L -> "newest newest newest newest widest widest widest",
      3L -> "aaa aa a")
    val wordFreq = Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L,
      "widest" -> 3L, "aaa" -> 1L, "aa" -> 1L, "a" -> 1L)
    val (refMerges, refVocab) = refBpe(wordFreq, 8)
    val got = TextAnalysis.bpeTrain(d, 8)
      .as[(Long, String, String, Long)].collect().toSeq.sortBy(_._1)
    assert(got == refMerges)
    // the encode fold agrees with the reference vocab's token counts
    val refTokens = refVocab.toSeq
      .flatMap { case (seq, f) => seq.map(_ -> f) }
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
      .sortBy { case (t, n) => (-n, t) }.take(20)
    val gotTok = TextAnalysis.bpeEncode(d, 8, 20)
      .as[(String, Long)].collect().toSeq
    assert(gotTok == refTokens)
  }

  test("bpe merge applies greedily to back-to-back occurrences and l==r runs") {
    // "abab": the winning (a,b) pair occurs back-to-back — a literal
    // string replace of " a b " consumes the shared delimiting space
    // with the first match and silently skips the second, so this
    // fixture distinguishes the greedy fold from replace (the r18
    // review's latent-bug case; the quiet corpus above never puts a
    // winning pair back-to-back)
    val d = docs(1L -> "abab abab abab")
    val (refMerges, refVocab) = refBpe(Map("abab" -> 3L), 4)
    val got = TextAnalysis.bpeTrain(d, 4)
      .as[(Long, String, String, Long)].collect().toSeq.sortBy(_._1)
    assert(got == refMerges)
    val refTokens = refVocab.toSeq
      .flatMap { case (seq, f) => seq.map(_ -> f) }
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
      .sortBy { case (t, n) => (-n, t) }.take(10)
    assert(TextAnalysis.bpeEncode(d, 4, 10)
      .as[(String, Long)].collect().toSeq == refTokens)
    // the l==r run: greedy partitions a 6-run as (aa)(aa)(aa); even an
    // ITERATED replace strands the non-greedy aa,a,aa,a partition
    val d2 = docs(1L -> "aaaaaa aaaaaa")
    val (refMerges2, refVocab2) = refBpe(Map("aaaaaa" -> 2L), 2)
    assert(TextAnalysis.bpeTrain(d2, 2)
      .as[(Long, String, String, Long)].collect().toSeq.sortBy(_._1)
      == refMerges2)
    val refTokens2 = refVocab2.toSeq
      .flatMap { case (seq, f) => seq.map(_ -> f) }
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
      .sortBy { case (t, n) => (-n, t) }.take(10)
    assert(TextAnalysis.bpeEncode(d2, 2, 10)
      .as[(String, Long)].collect().toSeq == refTokens2)
  }

  test("bpe trainer tiebreak: equal-count pairs resolve lexicographically") {
    // every pair counts 2 — the argmax must take (a,b) first (left
    // symbol lexicographic), then round 2's (ab,</w>) beats (c,d)
    val d = docs(1L -> "ab ab cd cd")
    val got = TextAnalysis.bpeTrain(d, 2)
      .as[(Long, String, String, Long)].collect().toSeq.sortBy(_._1)
    assert(got == Seq((1L, "a", "b", 2L), (2L, "ab", "</w>", 2L)))
  }

  test("bpe trainer stops when no pairs remain (single-char corpus)") {
    // one single-char word type: round 1 merges (a,</w>); after that
    // every word is ONE symbol — no pairs, the loop exits early
    val d = docs(1L -> "a a a")
    val got = TextAnalysis.bpeTrain(d, 5)
      .as[(Long, String, String, Long)].collect().toSeq
    assert(got == Seq((1L, "a", "</w>", 3L)))
    // and the encode of the exhausted vocab is the lone merged token
    assert(TextAnalysis.bpeEncode(d, 5, 10)
      .as[(String, Long)].collect().toSeq == Seq(("a</w>", 3L)))
  }

  test("exact dedup groups identical texts") {
    val d = docs(1L -> "a b c", 2L -> "a b c", 3L -> "x y z")
    val groups = Dedup.exact(d).as[(String, Long)].collect().map(_._2).sorted
    assert(groups.toSeq == Seq(1L, 2L))
  }

  test("shingles are distinct word n-grams") {
    val d = docs(1L -> "a b c d b c d")
    val sh = Dedup.shingles(d).as[(Long, String)].collect().map(_._2).toSet
    assert(sh == Set("a b c", "b c d", "c d b", "d b c"))
  }

  test("ngram jaccard finds near-dups, not strangers") {
    val d = docs(
      1L -> "the quick brown fox jumps over the lazy dog today",
      2L -> "the quick brown fox jumps over the lazy dog tomorrow",
      3L -> "completely different words appear in this one here now")
    val pairs = Dedup.ngramJaccard(d, tau = 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("ngram jaccard df cap drops ubiquitous shingles from the index") {
    val d = docs(
      1L -> "the quick brown fox jumps over the lazy dog today",
      2L -> "the quick brown fox jumps over the lazy dog tomorrow")
    // every shared shingle has df=2 > 1, so the capped index yields no
    // candidates; the default cap leaves the pair intact
    assert(Dedup.ngramJaccard(d, tau = 0.5, maxDf = 1).count() == 0)
    assert(Dedup.ngramJaccard(d, tau = 0.5).count() == 1)
  }

  test("ngram jaccard candidate-volume gate reroutes to band candidates") {
    val d = docs(
      1L -> "the quick brown fox jumps over the lazy dog today",
      2L -> "the quick brown fox jumps over the lazy dog today",
      3L -> "completely different words appear in this one here now")
    // forced over-budget regime (budget 0): identical texts agree on
    // every minhash band, so the banded candidates find the pair and
    // exact verification scores it at jac 1.0
    val gated = Dedup.ngramJaccard(d, tau = 0.8, maxCandidatePairs = 0)
      .as[(Long, Long, Double)].collect()
    assert(gated.map(r => (r._1, r._2)).toSet == Set((1L, 2L)))
    assert(gated.head._3 == 1.0)
    // under budget the exact regime runs and agrees
    val exact = Dedup.ngramJaccard(d, tau = 0.8)
      .as[(Long, Long, Double)].collect()
    assert(exact.map(r => (r._1, r._2)).toSet == Set((1L, 2L)))
    // a budget of 1 is exceeded by this corpus's prefix-index volume,
    // so the gate itself (not just the forced switch) reroutes
    val rerouted = Dedup.ngramJaccard(d, tau = 0.8, maxCandidatePairs = 1)
      .as[(Long, Long, Double)].collect()
    assert(rerouted.map(r => (r._1, r._2)).toSet == Set((1L, 2L)))
  }

  test("embedding cosine: exact recall below 0.7, banded pruning above") {
    val e = spark.read.parquet(graft.SharedSpark.sfDir + "/embeddings.parquet")
    // similarity-join regime: the label-cell path is exhaustive
    val blocked = Dedup.embeddingCosine(e)
      .as[(Long, Long)].collect().toSet
    val v = e.select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("v"))
    val exact = v.as("x").join(v.as("y"),
        col("x.label") === col("y.label") && col("x.vec_id") < col("y.vec_id"))
      .filter(Similarity.cosine(col("x.v"), col("y.v")) >= 0.4)
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"))
      .as[(Long, Long)].collect().toSet
    assert(blocked == exact && blocked.nonEmpty)
    // near-dup regime: banding engages and prunes the candidate set
    val coded = Dedup.codedVectors(e, 48, 64)
    val nCand = Dedup.embeddingCandidates(coded, 48, 4).count()
    val nAll = v.as("x").join(v.as("y"),
      col("x.label") === col("y.label") && col("x.vec_id") < col("y.vec_id")).count()
    assert(nCand < (nAll * 2) / 3)
    // the banded path is what tau >= 0.7 runs (same pairs as exact
    // verification there — trivially: no pairs that similar exist)
    assert(Dedup.embeddingCosine(e, tau = 0.8).count() == 0)
  }

  test("banded blocking at tau >= 0.7 keeps every true near-dup pair") {
    // non-vacuous recall check for the tau >= 0.7 regime: 40 planted
    // near-dup pairs (cosine ~0.995) among random 64-dim noise — the
    // banded path must return EXACTLY the exhaustive within-label
    // join's answer, not a survivable subset of it
    val rnd = new scala.util.Random(7)
    def vec() = Array.fill(64)(rnd.nextGaussian())
    val rows = (0 until 40).flatMap { i =>
      val base = vec()
      val dup = base.map(x => x + 0.05 * rnd.nextGaussian())
      Seq((i.toLong * 2, i % 4, base), (i.toLong * 2 + 1, i % 4, dup))
    } ++ (1000 until 1040).map(id => (id.toLong, id % 4, vec()))
    val e = rows.toDF("vec_id", "label", "embedding")
    val banded = Dedup.embeddingCosine(e, tau = 0.8)
      .as[(Long, Long)].collect().toSet
    val v = e.select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("v"))
    val exact = v.as("x").join(v.as("y"),
        col("x.label") === col("y.label") && col("x.vec_id") < col("y.vec_id"))
      .filter(Similarity.cosine(col("x.v"), col("y.v")) >= 0.8)
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"))
      .as[(Long, Long)].collect().toSet
    assert(banded == exact)
    assert(banded.size >= 40, "every planted dup pair must survive banding")
  }

  test("minhash lsh finds the same near-dup pair") {
    val d = docs(
      1L -> "the quick brown fox jumps over the lazy dog today",
      2L -> "the quick brown fox jumps over the lazy dog tomorrow",
      3L -> "completely different words appear in this one here now")
    val pairs = Dedup.minhashLsh(d, tau = 0.5).as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("minhash lsh: the driver and Spark regimes give identical rows") {
    import org.apache.spark.sql.DataFrame
    // budget 0 forces the band join and the verify joins; the shared
    // budget hashes, bands and verifies on the driver
    val budget = graft.Regime.budget
    val corpus: Seq[(Long, String)] = Seq(
      // exact duplicates
      1L -> "alpha bravo charlie delta echo foxtrot golf hotel",
      2L -> "alpha bravo charlie delta echo foxtrot golf hotel",
      // Jaccard exactly 4/8 = 0.5, colliding in band 0 only
      10L -> "romeo zulu tango xray kilo oscar whiskey alpha",
      11L -> "romeo zulu tango xray kilo oscar hotel foxtrot",
      // Jaccard exactly 7/10 = 0.7
      20L -> "juliet alpha november romeo uniform delta foxtrot zulu victor kilo",
      21L -> "juliet alpha november romeo uniform delta foxtrot zulu victor xray india",
      // Jaccard 0.5, colliding in band 1 only
      30L -> "papa lima sierra romeo golf quebec november zulu yankee tango",
      31L -> "papa lima sierra romeo golf quebec november whiskey alpha",
      // shingles repeated within a document: both sets are the same 4
      40L -> "mike lima kilo mike lima kilo mike lima kilo echo",
      41L -> "mike lima kilo mike lima kilo echo",
      // under 3 tokens, and a null text
      50L -> "two words", 51L -> "", 52L -> "   ", 53L -> "single", 54L -> null)
    val d = spark.sparkContext.parallelize(corpus, 3).toDF("doc_id", "text")
    val want = Map(
      0.5 -> Set((1L, 2L), (10L, 11L), (20L, 21L), (30L, 31L), (40L, 41L)),
      0.7 -> Set((1L, 2L), (20L, 21L), (40L, 41L)),
      1.0 -> Set((1L, 2L), (40L, 41L)))
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    for ((tau, pairs) <- want) {
      val driver = Dedup.minhashLsh(d, 16, 4, tau, budget)
      val inSpark = Dedup.minhashLsh(d, 16, 4, tau, 0)
      assert(driver.isLocal && !inSpark.isLocal, tau)
      assert(driver.as[(Long, Long)].collect().toSet == pairs, tau)
      assert(rows(driver) == rows(inSpark), tau)
      assert(driver.schema == inSpark.schema, tau)
    }
    graft.Checkpoints.releaseCaches()
  }

  test("minhash lsh over a 500-row frame fires at most 2 jobs") {
    import org.apache.spark.graft.ListenerBusDrain
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val d = Tables.documents(spark, graft.SharedSpark.sfDir)
    assert(d.count() == 500)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    }
    ListenerBusDrain.drain(sc)
    sc.addSparkListener(listener)
    val got = try {
      val r = Dedup.minhashLsh(d).collect()
      ListenerBusDrain.drain(sc)
      r
    } finally sc.removeSparkListener(listener)
    assert(got.nonEmpty)
    assert(jobs.get <= 2, s"${jobs.get} jobs")
  }

  test("dedup clusters map every doc to its component minimum") {
    val dd = docs(1L -> "a", 2L -> "b", 3L -> "c", 5L -> "d", 7L -> "e", 9L -> "f")
    val pairs = Seq((2L, 5L), (5L, 9L), (3L, 7L)).toDF("a", "b")
    val got = Dedup.clusters(dd, pairs).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 5L -> 2L, 7L -> 3L, 9L -> 2L))
  }

  test("simhash of identical docs has hamming 0") {
    val d = docs(1L -> "alpha beta gamma delta", 2L -> "alpha beta gamma delta")
    val pairs = Dedup.simhashPairs(d).as[(Long, Long, Int)].collect()
    assert(pairs.toSeq == Seq((1L, 2L, 0)))
  }

  test("cosine is exact on known vectors") {
    val df = Seq((Array(1.0, 0.0), Array(0.0, 1.0)), (Array(1.0, 1.0), Array(1.0, 1.0)))
      .toDF("a", "b")
      .select(Similarity.cosine(col("a"), col("b")).as("c"))
    val c = df.as[Double].collect()
    assert(math.abs(c(0)) < 1e-12 && math.abs(c(1) - 1.0) < 1e-12)
  }

  test("native cosine expression agrees with the HOF form and SQL registration") {
    val e = graft.SharedSpark.spark.read
      .parquet(graft.SharedSpark.sfDir + "/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .limit(50)
    val both = e.as("x").join(e.as("y"), col("x.vec_id") < col("y.vec_id"))
      .select(
        Similarity.cosine(col("x.v"), col("y.v")).as("native"),
        Similarity.cosineHof(col("x.v"), col("y.v")).as("hof"))
    assert(both.filter(abs(col("native") - col("hof")) > 1e-12).count() == 0)

    graft.functions.CosineSimilarity.register(spark)
    val viaSql = e.selectExpr("cosine_sim(v, v) AS c")
      .filter(abs(col("c") - 1.0) > 1e-12)
    assert(viaSql.count() == 0)
  }

  test("native hyperplane code is bit-identical to the HOF twin") {
    val e = graft.SharedSpark.spark.read
      .parquet(graft.SharedSpark.sfDir + "/embeddings.parquet")
      .select(col("embedding").cast("array<double>").as("v"))
    // the exact-equality assertion is the point: same fold order and
    // ±1.0 multiplies mean the codes must match bit-for-bit, at both
    // the 8-plane probe width and the 48-plane blocking width
    for ((planes, dims) <- Seq((8, 64), (48, 64))) {
      val diff = e.select(
          Similarity.bucketCode(col("v"), planes, dims).as("native"),
          Similarity.bucketCodeHof(col("v"), planes, dims).as("hof"))
        .filter(col("native") =!= col("hof"))
      assert(diff.count() == 0, s"planes=$planes")
    }
    // degenerate inputs keep the HOF contract: mismatched length and
    // null elements code to 0, a null vector stays null
    val weird = Seq[(Long, Option[Seq[Option[Double]]])](
      (1L, Some(Seq(Some(1.0), Some(2.0)))),
      (2L, Some(Seq(Some(1.0), None))),
      (3L, None))
      .toDF("id", "v")
      .select(col("id"), col("v").cast("array<double>").as("v"))
    val got = weird
      .select(col("id"), Similarity.bucketCode(col("v"), 8, 64).as("c"))
      .as[(Long, Option[Long])].collect().toMap
    assert(got(1L).contains(0L) && got(2L).contains(0L) && got(3L).isEmpty)
  }

  test("curriculum phases are monotone in quality score") {
    val d = docs((1L to 40L).map(i =>
      i -> (Seq.fill(i.toInt)("the word").mkString(" "))): _*)
    val got = TextAnalysis.curriculumPhases(d, phases = 4)
      .select("doc_id", "score", "phase")
      .as[(Long, Double, Int)].collect().sortBy(_._2)
    assert(got.map(_._3).toSeq == got.map(_._3).sorted.toSeq) // monotone
    assert(got.map(_._3).distinct.sorted.toSeq == Seq(1, 2, 3, 4))
    // identical scores land in the same phase (cut comparison, not rank)
    val byScore = got.groupBy(_._2).values
    assert(byScore.forall(g => g.map(_._3).distinct.length == 1))
  }

  test("curriculum empty-sample fallback still cuts phases") {
    // every one of these doc_ids md5-hashes ABOVE the 50% sample
    // bucket, so without the fallback all cuts would be NULL and every
    // doc would land in phase 1
    val ids = Seq(1L, 5L, 6L, 8L, 9L, 11L, 12L, 13L, 14L, 18L)
    val d = docs(ids.zipWithIndex.map { case (id, i) =>
      id -> Seq.fill(5 * (i + 1))("the word").mkString(" ") }: _*)
    val got = TextAnalysis.curriculumPhases(d, phases = 2)
      .select("doc_id", "phase").as[(Long, Int)].collect()
    assert(got.map(_._2).distinct.sorted.toSeq == Seq(1, 2))
  }

  test("pq topk is deterministic and overlaps the exact ranking") {
    val emb = graft.SharedSpark.spark.read
      .parquet(graft.SharedSpark.sfDir + "/embeddings.parquet")
    val pq = Similarity.pqTopK(emb, queryId = 0, k = 10).as[Long].collect()
    assert(pq.length == 10 && pq.distinct.length == 10)
    // bit-reproducible: the median codebooks and fixed-point ADC make
    // a second run identical, not merely similar
    assert(Similarity.pqTopK(emb, queryId = 0, k = 10)
      .as[Long].collect().toSeq == pq.toSeq)
    val bf = Similarity.bruteForceTopK(emb, queryId = 0, k = 10)
      .as[Long].collect().toSet
    // the 16-entry label codebook is deliberately coarse at this SF —
    // the assertion pins nonzero agreement, determinism pins the rest
    assert(pq.toSet.intersect(bf).nonEmpty,
      s"pq ${pq.toSet} vs brute ${bf}")
  }

  test("vector top-k: the driver and Spark regimes give identical rows") {
    import org.apache.spark.sql.DataFrame
    // budget 0 forces the Spark side; the shared budget runs the driver
    val budget = graft.Regime.budget
    // the codebook sample's md5 bucket of a vec_id
    def hb(id: Long) = {
      val h = java.security.MessageDigest.getInstance("MD5").digest(id.toString.getBytes("UTF-8"))
      (((h(0) & 0xff) << 8) | (h(1) & 0xff)) % 100
    }
    val (in, out) = (1L to 60L).partition(hb(_) < 60)
    // at samplePct 60: label 4 has no sampled row, label 5 one (under
    // a cap of 3); dyadic components keep every centroid sum exact
    val labelOf = (out.take(3).map(_ -> 4) ++ (in.take(1) ++ out.slice(3, 5)).map(_ -> 5) ++
      (in.drop(1) ++ out.drop(5)).zipWithIndex.map { case (id, i) => id -> (1 + i % 3) }).toMap
    def vec(id: Long) = Seq.tabulate(4)(d => (((id * 37 + d * 11) % 9) - 4) / 4.0f)
    val rows = (1L to 60L).map(id => (id, vec(id), labelOf(id))) ++ Seq(
      (1000L, Seq.fill(4)(0.0f), 1),          // a zero vector
      (2001L, vec(7), labelOf(7)),             // copies of vector 7: tied
      (2002L, vec(7), labelOf(7)),             // ADC scores and cosines
      // where labels 8 and 9 are sampled, their entries are equally far
      // from 3003's slices: its codes tie
      (3001L, Seq(3.5f, 1.5f, 3.5f, 1.5f), 8),
      (3002L, Seq(1.5f, 3.5f, 1.5f, 3.5f), 9),
      (3003L, Seq.fill(4)(2.5f), 3),
      // query 3004 is label 10's centroid; 8's and 9's tie behind it
      (3004L, Seq.fill(4)(5.0f), 10))
    val e = spark.sparkContext.parallelize(rows, 3).toDF("vec_id", "embedding", "label")
    assert(out.length >= 5 && in.length >= 4)
    // every vector but the query gets a score, ties included
    val all = Similarity.pqTopK(e, 7, 1000, 2, 4, 1e6, 60, 3, budget).as[Long].collect()
    assert(all.length == 66 && all.indexOf(2002L) == all.indexOf(2001L) + 1)
    def same(what: Any, driver: DataFrame, inSpark: DataFrame): Unit = {
      assert(driver.isLocal && !inSpark.isLocal, what)
      assert(driver.collect().toSeq == inSpark.collect().toSeq, what)
      assert(driver.schema == inSpark.schema, what)
    }
    // query 7 has tied copies, 1000 is the zero vector, 99999 is absent
    for (q <- Seq(7L, 1000L, 3004L, 99999L); (pct, cap) <- Seq((60, 3), (100, 100))) {
      for (k <- Seq(4, 1000))
        same((q, pct, cap, k), Similarity.pqTopK(e, q, k, 2, 4, 1e6, pct, cap, budget),
          Similarity.pqTopK(e, q, k, 2, 4, 1e6, pct, cap, 0))
      // nprobe 10 reaches every label; k and rerank 1000 exceed the
      // candidates
      for ((k, nprobe, rerank) <- Seq((3, 1, 4), (5, 2, 2), (1000, 10, 1000))) {
        val what = (q, pct, cap, k, nprobe, rerank)
        same(what, Similarity.ivfPqTopK(e, q, k, nprobe, rerank, 2, 4, 1e6, pct, cap, budget),
          Similarity.ivfPqTopK(e, q, k, nprobe, rerank, 2, 4, 1e6, pct, cap, 0))
      }
    }
    graft.Checkpoints.releaseCaches()
  }

  test("ivf-pq top-k over a 500-row frame fires at most 2 jobs") {
    import org.apache.spark.graft.ListenerBusDrain
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val emb = Tables.embeddings(spark, graft.SharedSpark.sfDir)
    assert(emb.count() == 500)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    }
    ListenerBusDrain.drain(sc)
    sc.addSparkListener(listener)
    val got = try {
      val r = Similarity.ivfPqTopK(emb, 0, 10).collect()
      ListenerBusDrain.drain(sc)
      r
    } finally sc.removeSparkListener(listener)
    assert(got.length == 10)
    assert(jobs.get <= 2, s"${jobs.get} jobs")
  }

  test("pq training sample caps per label and is bucket-deterministic") {
    val emb = graft.SharedSpark.spark.read
      .parquet(graft.SharedSpark.sfDir + "/embeddings.parquet")
    val e = emb.select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("v"))
    val capped = Similarity.pqTrainSample(e, samplePct = 50, sampleCap = 4)
      .groupBy("label").count().as[(Int, Long)].collect()
    assert(capped.nonEmpty && capped.forall(_._2 <= 4),
      s"cap must bind: ${capped.toSeq}")
    // with the cap loose, the bucket filter alone decides membership:
    // roughly half the corpus survives, and a rerun is identical
    val loose = Similarity.pqTrainSample(e, samplePct = 50, sampleCap = 1 << 30)
    val n = loose.count()
    val total = e.count()
    assert(n > total / 4 && n < 3 * total / 4, s"$n of $total sampled")
    assert(loose.count() == n)
  }

  test("bloom contains: build/test round-trip, absent keys, malformed digests") {
    import graft.functions.BloomContains
    val members = Seq("alpha", "beta", "gamma")
    def hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val bits = BloomContains.build(members.map(hex).iterator)
    val df = (members ++ Seq("delta", "epsilon", "zeta", "eta"))
      .toDF("word").select(col("word"), md5(col("word").cast("binary")).as("g"))
    val got = df.select(col("word"),
        BloomContains(lit(bits), col("g")).as("hit"))
      .as[(String, Boolean)].collect().toMap
    // every member hits; with 12 set bits of 2^20 a false positive
    // needs 4 independent 1e-5 collisions — the absent words miss
    assert(members.forall(got(_)))
    assert(Seq("delta", "epsilon", "zeta", "eta").forall(!got(_)))
    // malformed digest is null (a silent false would read "clean")
    val bad = Seq("xy", "zz-not-hex-but-long-enough!!").toDF("g")
      .select(BloomContains(lit(bits), col("g")).as("hit"))
    assert(bad.filter(col("hit").isNull).count() == 2)
    // SQL registration reaches the same kernel
    graft.Graft.registerFunctions(spark)
    assert(df.withColumn("bs", lit(bits))
      .selectExpr("bloom_contains(bs, g) AS hit")
      .filter(col("hit")).count() == 3)
    // the distributed partial-OR build produces the IDENTICAL bitset
    // (same probe derivation per partition, OR-combined) — byte-equal,
    // not just behavior-equal, so either builder feeds the expression
    val dbits = BloomContains.buildDistributed(
      members.map(hex).toDF("g").repartition(3))
    assert(java.util.Arrays.equals(bits, dbits))
  }

  test("GraftExtensions injects the same kernels config-level setup gets") {
    // the spark.sql.extensions path can't re-create SharedSpark's
    // session mid-suite, but the class must (a) instantiate
    // reflectively exactly as Spark's loader does, (b) accept an
    // extensions object without throwing, and (c) share the SAME
    // descriptors the session-level register() uses — so a cluster
    // configured with graft.GraftExtensions resolves identical
    // functions to the ones checked in SQL below
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    Class.forName("graft.GraftExtensions").getDeclaredConstructor()
      .newInstance().asInstanceOf[
        org.apache.spark.sql.SparkSessionExtensions => Unit].apply(ext)
    graft.Graft.registerFunctions(spark)
    val one = spark
      .sql("SELECT cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c")
      .as[Double].head()
    assert(math.abs(one - 1.0) < 1e-12)
    val dot = spark
      .sql("SELECT dot_int(array(2, 3), array(4, 5)) AS d")
      .as[Long].head()
    assert(dot == 23L)
  }

  test("unigram surprisal: whole-bit witness matches hand arithmetic") {
    // corpus: a×3, b×1, c×1, N=5. bits(tok) = ⌊log2(N div count)⌋:
    // a → 5 div 3 = 1 → 0 bits; b, c → 5 → ⌊log2 5⌋ = 2 bits
    val d = docs(1L -> "a a b", 2L -> "a c")
    val got = TextAnalysis.unigramSurprisal(d)
      .as[(Long, Long, Long)].collect()
      .map { case (id, n, bits) => id -> ((n, bits)) }.toMap
    assert(got == Map(1L -> ((3L, 2L)), 2L -> ((2L, 2L))))
  }

  test("bigram surprisal: conditional whole-bit witness, head cutoff invariant") {
    // pairs: doc1 (a,b)(b,a)(a,c), doc2 (a,b). bigram counts:
    // (a,b)→2 (b,a)→1 (a,c)→1; context counts: a→3, b→1.
    // bits = ⌊log2(nx div nxy)⌋: (a,b) 3 div 2 = 1 → 0; (b,a) 1 → 0;
    // (a,c) 3 → ⌊log2 3⌋ = 1. doc1 = (3, 1), doc2 = (1, 0)
    val d = docs(1L -> "a b a c", 2L -> "a b")
    def run(headK: Int) = TextAnalysis.bigramSurprisal(d, headK)
      .as[(Long, Long, Long)].collect()
      .map { case (id, n, bits) => id -> ((n, bits)) }.toMap
    assert(run(10000) == Map(1L -> ((3L, 1L)), 2L -> ((1L, 0L))))
    // headK=0 forces every pair through the tail (shuffled) arm —
    // the regime split must not change the answer
    assert(run(0) == run(10000))
  }

  test("cross-split LM gate: smoothed whole bits, OOV, threshold, regime split") {
    // md5 hex-1-4 % 100: ids 1,2 → 78,30 (train); 5,8 → 86,96 (score).
    // train "a a b" + "a c": uni a→3 b→1 c→1, N=5, V=3, N+V=8.
    // bits = ⌊log2(8 div (c+1))⌋: a→1, b→2, c→2, OOV→⌊log2 8⌋=3.
    // doc5 "a b z" → (3, 6, 2000); doc8 "z z" → (2, 6, 3000).
    // keepBptE3=2500 keeps doc5 and cuts doc8.
    val d = docs(1L -> "a a b", 2L -> "a c", 5L -> "a b z", 8L -> "z z")
    def run(headK: Int) = TextAnalysis.crossEntropyGate(d, headK, 2500L)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map { case (id, n, bits, bpt, k) => id -> ((n, bits, bpt, k)) }.toMap
    val expect = Map(5L -> ((3L, 6L, 2000L, 1L)), 8L -> ((2L, 6L, 3000L, 0L)))
    assert(run(10000) == expect) // train docs never scored
    // headK=0 forces every scored token through the tail (keyed) arm,
    // including the OOV left-outer path — same answer
    assert(run(0) == expect)
  }

  test("cross-split LM gate: an empty train split yields no verdicts") {
    // ids 5, 8, 14 all hash into the scored bucket (md5 hex-1-4 ≥ 80):
    // with no model there is no evidence — the gate must emit zero
    // rows, not null-scored kept=0 rows
    val d = docs(5L -> "a b", 8L -> "c d", 14L -> "e f")
    assert(TextAnalysis.crossEntropyGate(d).count() == 0L)
  }

  test("char entropy: exact integer witness per document") {
    // "aaab": n=4, a×3 b×1 → 3·⌊log2(4 div 3)⌋ + 1·⌊log2 4⌋ = 2
    // "ab":   n=2, 1+1 bits = 2;  "aaaa": 0 bits
    val d = docs(1L -> "aaab", 2L -> "ab", 3L -> "aaaa")
    val got = TextAnalysis.charEntropy(d)
      .as[(Long, Long, Long, Long)].collect()
      .map { case (id, n, k, bits) => id -> ((n, k, bits)) }.toMap
    assert(got == Map(1L -> ((4L, 2L, 2L)), 2L -> ((2L, 2L, 2L)),
      3L -> ((4L, 1L, 0L))))
  }

  test("temperature mix: isqrt weights, integer rates, md5-bucket decision") {
    // sources A/B/C with 15/16/17 tokens: w = isqrt = 3/4/4 (the
    // 15→3 vs 16→4 step is the exactness check), tt=48, budget=24,
    // ww=11 → per-source budgets 6/8/8 → rate_e4 4000/5000/4705.
    // md5 hex-29 buckets: doc1→3947 (<4000, in), doc2→4348 (<5000,
    // in), doc3→7859 (≥4705, out)
    val d = Seq(
      (1L, Seq.fill(15)("t").mkString(" "), "A"),
      (2L, Seq.fill(16)("t").mkString(" "), "B"),
      (3L, Seq.fill(17)("t").mkString(" "), "C"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")))
    val got = TextAnalysis.mixTemperature(d)
      .as[(Long, String, Long)].collect().toSet
    assert(got == Set((1L, "A", 15L), (2L, "B", 16L)))
  }

  test("packing efficiency card folds the pack assignment exactly") {
    val d = docs((1L to 40L).map(i => i -> ("tok " * (i % 7 + 1).toInt).trim): _*)
    val packs = TextAnalysis.packSequences(d, seqTokens = 16, buckets = 4)
      .as[(Long, Long, Long, Long)].collect()
    val expected = packs.groupBy(_._2).map { case (b, rows) =>
      val nPacks = rows.map(_._3).distinct.length.toLong
      val nToks = rows.map(_._4).sum
      (b, nPacks, rows.length.toLong, nToks, nToks * 1000000L / (nPacks * 16))
    }.toSet
    val got = TextAnalysis.packingEfficiency(d, seqTokens = 16, buckets = 4)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == expected)
    assert(got.map(_._3).sum == 40L)
  }

  test("mutual top-k keeps exactly the reciprocal pairs") {
    // slice %10 → ids 0/10/20/30; two tight 2D clusters. k=1: 0↔10
    // and 20↔30 are each other's nearest — both mutual, nothing else
    val e = Seq(
      (0L, Array(1.0f, 0.0f), 0), (10L, Array(0.9f, 0.1f), 0),
      (20L, Array(0.0f, 1.0f), 1), (30L, Array(0.1f, 0.9f), 1),
      (5L, Array(0.5f, 0.5f), 2)) // not on the slice — must be ignored
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.mutualTopK(e, k = 1)
      .as[(Long, Long, Int, Int)].collect().toSet
    assert(got == Set((0L, 10L, 1, 1), (20L, 30L, 1, 1)))
  }

  test("bloom contamination flags the docs the exact screen flags") {
    // doc 0 (0 % 97 == 0) is the benchmark slice; doc 1 shares a
    // 5-gram with it, doc 2 does not
    val d = docs(
      0L -> "the quick brown fox jumps over it",
      1L -> "xx the quick brown fox jumps yy",
      2L -> "entirely different words in this document here")
    val flagged = TextAnalysis.contaminationBloom(d)
      .as[(Long, Long)].collect().toMap
    assert(flagged == Map(1L -> 1L))
    val exact = TextAnalysis.contamination(d)
      .as[(Long, Long)].collect().toMap
    assert(flagged == exact)
  }

  test("native int dot product agrees with the HOF form; null semantics") {
    val df = Seq(
      (Array(1, 2, 3), Array(4, 5, 6)),      // 4+10+18 = 32
      (Array(-127, 127), Array(127, 127)),   // 0
      (Array(127, 127, 127), Array(127, 127, 127))) // 3*16129
      .toDF("a", "b")
    val got = df.select(
        graft.functions.DotProductInt(col("a"), col("b")).as("native"),
        aggregate(zip_with(col("a"), col("b"),
          (x, y) => (x * y).cast("long")), lit(0L), (acc, x) => acc + x)
          .as("hof"))
      .as[(Long, Long)].collect()
    assert(got.forall { case (n, h) => n == h })
    assert(got.map(_._1).toSeq == Seq(32L, 0L, 48387L))
    // length mismatch is null, not a truncated partial sum
    val mismatch = Seq((Array(1, 2), Array(1, 2, 3))).toDF("a", "b")
      .select(graft.functions.DotProductInt(col("a"), col("b")).as("d"))
    assert(mismatch.filter(col("d").isNull).count() == 1)
    graft.functions.DotProductInt.register(spark)
    assert(Seq((Array(2, 3), Array(4, 5))).toDF("a", "b")
      .selectExpr("dot_int(a, b) AS d").as[Long].head() == 23L)
  }

  test("brute-force topk returns nearest first") {
    val e = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.9f, 0.1f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f, 0.0f), 1),
      (3L, Array(0.5f, 0.5f, 0.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val top = Similarity.bruteForceTopK(e, 0, 2).as[Long].collect()
    assert(top.toSeq == Seq(1L, 3L))
  }

  test("lsh multi-probe returns a full top-k in brute-force order") {
    val e = spark.read.parquet(graft.SharedSpark.sfDir + "/embeddings.parquet")
    val lsh = Similarity.lshTopK(e, 0, 10).as[Long].collect()
    assert(lsh.length == 10 && lsh.distinct.length == 10)
    // candidates are exact-scored, so any that are true top-50
    // neighbors must appear in brute-force relative order
    val pos = Similarity.bruteForceTopK(e, 0, 50).as[Long]
      .collect().zipWithIndex.toMap
    val ranks = lsh.flatMap(pos.get)
    assert(ranks.nonEmpty && ranks.sameElements(ranks.sorted))
  }

  test("ivf probes nearest-centroid labels and returns k rows") {
    val e = spark.read.parquet(graft.SharedSpark.sfDir + "/embeddings.parquet")
    val ivf = Similarity.ivfTopK(e, 0, 10).as[Long].collect()
    assert(ivf.length == 10 && ivf.distinct.length == 10)
  }

  test("quality score favors long clean text") {
    val d = docs(1L -> "the data pipeline runs smoothly with many fine tokens",
      2L -> "!!! ??? ***")
    val s = TextAnalysis.qualityScore(d)
      .select("doc_id", "score").as[(Long, Double)].collect().toMap
    assert(s(1L) > s(2L))
  }

  test("langid votes by stopwords with fixed tie priority") {
    val d = docs(1L -> "the cat and the dog", 2L -> "le chat et la chatte", 3L -> "zzz qqq")
    val got = TextAnalysis.langId(d)
      .select("doc_id", "pred_lang").as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "en", 2L -> "fr", 3L -> "und"))
  }

  test("chunking strides with overlap and shortens at the tail") {
    val d = docs(1L -> (1 to 10).map(i => s"t$i").mkString(" "))
    val c = TextAnalysis.chunk(d, chunkTokens = 4, overlap = 2)
      .select("chunk_idx", "chunk", "n_tokens")
      .as[(Long, String, Int)].collect().sortBy(_._1)
    assert(c.length == 5)
    assert(c(0) == ((0L, "t1 t2 t3 t4", 4)))
    assert(c(1) == ((1L, "t3 t4 t5 t6", 4)))
    assert(c(4) == ((4L, "t9 t10", 2)))
  }

  test("pipeline prepare filters, dedups, and chunks in one plan") {
    val long = ("the data " * 60).trim
    val d = docs(1L -> long, 2L -> long, 3L -> "!!! ??")
    val out = Pipeline.prepare(d)
      .select("doc_id").distinct().as[Long].collect().toSet
    // doc 2 is an exact dup of 1 (min id wins), doc 3 fails quality
    assert(out == Set(1L))
  }

  test("pii scrub redacts emails and long digit runs") {
    val d = docs(1L -> "contact a.b+c@mail.example.org or 12345678 now")
    val clean = TextAnalysis.piiScrub(d).select("clean").as[String].head()
    assert(clean == "contact <EMAIL> or <NUM> now")
  }

  test("fingerprint is whitespace/case canonical") {
    val d = docs(1L -> "Hello  World", 2L -> "hello world")
    assert(TextAnalysis.fingerprint(d).select("fp").distinct().count() == 1)
  }

  test("binary features are deterministic byte math") {
    val d = docs(1L -> "abc")
    val f = Multimodal.binaryFeatures(d).head()
    // len 3, first 'a'=97, last 'c'=99 => checksum 31*3+97+99 = 289
    assert(f.getInt(1) == 3 && f.getInt(2) == 97 && f.getInt(3) == 99)
    assert(f.getLong(4) == 289L && f.getInt(5) == 289 && f.getInt(6) == 289 % 480)
  }

  test("resize keeps the first of every 4 bytes; audio windows overlap") {
    val d = docs(1L -> "abcdefgh")
    val r = Multimodal.resizeStub(d).select("out_len").as[Long].collect()
    assert(r.toSeq == Seq(2L)) // "ae"
    // 8 chars can't fit a 32-byte window → filtered
    assert(Multimodal.audioWindows(d).count() == 0)
    val long = docs(2L -> "a" * 48)
    val w = Multimodal.audioWindows(long)
      .select("win_idx", "energy").as[(Long, Long)].collect().toSet
    // windows at 0 and 16, each 32 × 'a'(97)
    assert(w == Set((0L, 32L * 97), (1L, 32L * 97)))
  }

  test("audio window energy on a non-ASCII payload agrees with ascii(substr(...))") {
    // 2-, 3- and 4-byte UTF-8 code points (the last a surrogate pair
    // in a Java string) between ASCII bytes: the kernel's non-ASCII
    // path must give the HOF tree's value for every window, including
    // windows that run past the end of the payload
    val d = docs(3L -> (("aé€\uD834\uDD1E" * 12) + "zz"))
    val hof = "aggregate(sequence(s + 1, s + 32), 0L, " +
      "(acc, q) -> acc + ascii(substr(text, q, 1)))"
    val w = d.select(col("text"),
        explode(sequence(lit(0), length(col("text")) + 2)).as("s"))
      .select(col("s"),
        graft.functions.ByteSums.byteWindowSum(col("text"), col("s"), 32).as("got"),
        expr(hof).as("want"))
      .as[(Int, Long, Long)].collect()
    assert(w.length == 53)
    assert(w.forall(r => r._2 == r._3), w.filter(r => r._2 != r._3).mkString(", "))
    val energy = Multimodal.audioWindows(d).select("win_idx", "energy")
      .as[(Long, Long)].collect().toMap
    assert(energy.size == 2 && energy(0L) == w(0)._3 && energy(1L) == w(16)._3)
  }

  test("frame sampling strides over 64-byte frames") {
    val d = docs(1L -> ("x" * 640))
    val idx = Multimodal.frameSample(d).select("frame_idx").as[Int].collect().sorted
    assert(idx.toSeq == Seq(0, 4, 8))
  }

  test("sessionize splits on the idle gap") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Int) = new java.sql.Timestamp(base.getTime + min * 60000L)
    val ev = Seq(
      (1L, ts(0)), (1L, ts(10)), (1L, ts(50)), (1L, ts(55)),
      (2L, ts(0)))
      .toDF("user_id", "ts")
    val sess = Events.sessionize(ev)
      .select("user_id", "session_id", "n_events")
      .as[(Long, Long, Long)].collect().toSet
    assert(sess == Set((1L, 1L, 2L), (1L, 2L, 2L), (2L, 1L, 1L)))
  }

  test("adaptiveBandBits escalates width exactly when the volume demands") {
    // 64 vectors, one label: every vector gets a hyperplane code; at
    // 4-bit bands the 16 buckets are fat (ballpark 4 per bucket →
    // ~12·16·6 ≈ 10³ pairs), so a tiny budget must force a wider
    // band while a huge budget keeps the narrowest
    val e = (0L until 64L).map(i =>
        (i, Array.tabulate(64)(d => ((i * 31 + d * 7) % 13 - 6).toFloat), 1))
      .toDF("vec_id", "embedding", "label")
    val coded = Dedup.codedVectors(e, 48, 64)
    try {
      assert(Dedup.adaptiveBandBits(coded, 48, Long.MaxValue) == 4,
        "an unconstrained budget keeps the narrowest (highest-recall) band")
      val tight = Dedup.adaptiveBandBits(coded, 48, 4L)
      assert(tight > 4, "a tight budget must escalate past 4-bit bands")
      assert(Dedup.BandBitsLadder.contains(tight))
      // monotone: a looser budget never picks a WIDER band
      val loose = Dedup.adaptiveBandBits(coded, 48, 1000L)
      assert(loose <= tight)
    } finally graft.Checkpoints.releaseCaches()
  }

  test("anomalyDays flags only the spiked day") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(day: Int, i: Int) =
      new java.sql.Timestamp(base.getTime + day * 86400000L + i * 1000L)
    // 9 quiet days of 2 events + one day of 40: mean ≈ 5.8, the spike
    // is far beyond 2σ while the quiet days sit below the mean
    val ev = ((0 until 9).flatMap(d => Seq((1L, ts(d, 0)), (1L, ts(d, 1)))) ++
      (0 until 40).map(i => (1L, ts(9, i)))).toDF("user_id", "ts")
    val got = Events.anomalyDays(ev).select("day", "n")
      .as[(Long, Long)].collect().toSet
    val day9 = base.getTime / 86400000L + 9
    assert(got == Set((day9, 40L)))
  }

  test("rollingDaily's RANGE frame honors calendar gaps") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(day: Int) = new java.sql.Timestamp(base.getTime + day * 86400000L)
    // active on days 0, 3, and 10: day 3's 7-day window includes day
    // 0; day 10's does NOT include day 3 (gap of 7) — a ROWS frame
    // would wrongly carry it
    val ev = Seq((1L, ts(0)), (1L, ts(0)), (1L, ts(3)), (1L, ts(10)))
      .toDF("user_id", "ts")
    val d0 = base.getTime / 86400000L
    val got = Events.rollingDaily(ev).select("day", "n", "n7")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((d0, 2L, 2L), (d0 + 3, 1L, 3L), (d0 + 10, 1L, 1L)))
  }

  test("engagementGini: uniform counts → 0; computed from the histogram") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ev(pairs: (Long, Int)*) = pairs.flatMap { case (u, k) =>
      (0 until k).map(i =>
        (u, new java.sql.Timestamp(base.getTime + i * 1000L)))
    }.toDF("user_id", "ts")
    // perfectly equal: gini = 0 exactly
    val eq = Events.engagementGini(ev(1L -> 3, 2L -> 3, 3L -> 3))
      .as[(Long, Long, Long)].head()
    assert(eq == ((3L, 9L, 0L)))
    // counts 1,1,4: G = Σ(2i−n−1)x / (n·S) = (−2·1 + 0·1 + 2·4)/18
    //             = 6/18 → gini_e6 = 333333 (floor)
    val sk = Events.engagementGini(ev(1L -> 1, 2L -> 1, 3L -> 4))
      .as[(Long, Long, Long)].head()
    assert(sk == ((3L, 6L, 333333L)))
  }

  test("enrich joins the broadcast dimension and rolls up by segment") {
    val ev = Seq((1L, "click", 2.0), (1L, "click", 3.0), (2L, "view", 4.0))
      .toDF("user_id", "event_type", "value")
    val cust = Seq((1L, "BUILDING"), (2L, "MACHINERY"))
      .toDF("c_custkey", "c_mktsegment")
    val got = Events.enrich(ev, cust)
      .as[(String, String, Long, Double)].collect().toSet
    assert(got == Set(("BUILDING", "click", 2L, 5.0),
      ("MACHINERY", "view", 1L, 4.0)))
  }

  test("native session_window merges at exactly the gap, splits beyond it") {
    val base = java.sql.Timestamp.valueOf("2024-05-01 00:00:00")
    def ts(min: Int) = new java.sql.Timestamp(base.getTime + min * 60000L)
    // 29→59 is exactly the 30-min gap: windows touch and still merge
    // (split is strictly > gap — pins the oracle's split condition);
    // 59→95 exceeds it and splits
    val ev = Seq((1L, ts(0)), (1L, ts(29)), (1L, ts(59)), (1L, ts(95)))
      .toDF("user_id", "ts")
    def us(t: java.sql.Timestamp) = t.getTime * 1000L
    val got = Events.sessionWindowAgg(ev)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      (1L, us(ts(0)), us(ts(59)) + 1800000000L, 3L),
      (1L, us(ts(95)), us(ts(95)) + 1800000000L, 1L)))
  }

  test("props JSON extraction types and aggregates the field") {
    val ev = Seq(("click", """{"k": 3}"""), ("click", """{"k": 5}"""),
      ("view", """{"k": 7}"""), ("view", "not json"))
      .toDF("event_type", "props")
    val got = Events.propsExtract(ev)
      .as[(String, Long, Option[Long], Option[Long])].collect().toSet
    assert(got == Set(("click", 2L, Some(8L), Some(5L)),
      ("view", 2L, Some(7L), Some(7L))))
  }

  test("knn join ranks each query's neighbors by cosine") {
    val e = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.9f, 0.1f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f, 0.0f), 1),
      (50L, Array(0.0f, 0.9f, 0.1f), 1))
      .toDF("vec_id", "embedding", "label")
    // queries: ids 0 and 50; k=2 nearest among the other three
    // (cos ties — 2 and 50 are both orthogonal to 0 — break on id)
    val out = Similarity.knnJoin(e, k = 2)
      .as[(Long, Long, Int)].collect().toSet
    assert(out == Set((0L, 1L, 1), (0L, 2L, 2), (50L, 2L, 1), (50L, 1L, 2)))
  }

  test("gopher rules fail short, symbol-heavy, non-alpha, stopless docs") {
    val good = ("the data and thought of that line be good with more " +
      "words to fill out the minimum twenty word requirement here now")
    val d = docs(
      1L -> good,                                // passes every rule
      2L -> "the of and short",                  // < 20 words
      3L -> (good + " " + Seq.fill(4)("# # # # #").mkString(" ")), // symbols
      4L -> ("0 1 2 3 4 5 6 7 8 9 " * 3 + "the of and x"))  // < 80% alpha
    val r = TextAnalysis.gopherQuality(d)
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(r == Map(1L -> true, 2L -> false, 3L -> false, 4L -> false))
  }

  test("ngram novelty counts df-1 grams only") {
    val d = docs(
      1L -> "alpha beta gamma delta",   // grams: abc bcd (abc shared w/ 2)
      2L -> "alpha beta gamma epsilon", // abc shared, bce unique
      3L -> "one two three four five")  // all unique
    val r = TextAnalysis.ngramNovelty(d)
      .as[(Long, Long, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    // doc1: 2 distinct grams, 1 novel; doc2 same; doc3: 3 of 3 novel
    assert(r == Map(1L -> ((2L, 1L)), 2L -> ((2L, 1L)), 3L -> ((3L, 3L))))
  }

  test("knn classify takes the majority label, ties to the smaller") {
    val e = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 9),   // query; own label ignored
      (1L, Array(0.9f, 0.1f, 0.0f), 1),
      (2L, Array(0.8f, 0.2f, 0.0f), 1),
      (3L, Array(0.7f, 0.3f, 0.0f), 2),
      (4L, Array(0.0f, 1.0f, 0.0f), 2),
      (5L, Array(0.0f, 0.9f, 0.1f), 2))
      .toDF("vec_id", "embedding", "label")
    // k=3 nearest to q0: ids 1,2 (label 1), 3 (label 2) → majority 1
    val out = Similarity.knnClassify(e, k = 3)
      .as[(Long, Int, Long)].collect().toSet
    assert(out == Set((0L, 1, 2L)))
    // k=4 brings id 4: votes 2-2, tie breaks to label 1
    val tied = Similarity.knnClassify(e, k = 4)
      .as[(Long, Int, Long)].collect().toSet
    assert(tied == Set((0L, 1, 2L)))
  }

  test("salted join matches the plain join on a skewed fact") {
    val fact = (1L to 100L).map(i => (i, if (i <= 90) 7L else i % 3, i * 1.0))
      .toDF("event_id", "user_id", "value") // user 7 owns 90% of rows
    val dim = Seq((7L, "hot"), (0L, "a"), (1L, "b"), (2L, "c"))
      .toDF("user_id", "segment")
    val plain = fact.join(dim, "user_id")
      .groupBy("segment").agg(count(lit(1)).as("n"), sum("value").as("sv"))
      .as[(String, Long, Double)].collect().toSet
    val salted = SkewJoin.salted(fact, dim, "user_id", col("event_id"), 8)
      .groupBy("segment").agg(count(lit(1)).as("n"), sum("value").as("sv"))
      .as[(String, Long, Double)].collect().toSet
    assert(salted == plain)
    // the hot key's rows really do spread: >1 distinct salt for user 7
    val spread = fact.filter(col("user_id") === 7)
      .select(pmod(xxhash64(col("event_id")), lit(8)))
      .distinct().count()
    assert(spread > 1)
  }

  test("mix keeps the bottleneck source whole and drops unlisted sources") {
    val d = ((1L to 4L).map(i => (i, s"doc $i", "a")) ++
      (5L to 8L).map(i => (i, s"doc $i", "b")) ++
      Seq((9L, "doc 9", "other")))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en")).withColumn("n_chars", length(col("text")))
    // equal weights, equal counts: both sources keep everything
    val all = TextAnalysis.mixToTarget(d, Map("a" -> 0.5, "b" -> 0.5))
      .as[(Long, String)].collect()
    assert(all.length == 8 && !all.exists(_._2 == "other"))
    // a is the bottleneck (w=0.8): it keeps all 4; b downsamples
    val skewed = TextAnalysis.mixToTarget(d, Map("a" -> 0.8, "b" -> 0.2))
      .as[(Long, String)].collect()
    assert(skewed.count(_._2 == "a") == 4 && skewed.count(_._2 == "b") <= 4)
  }

  test("retention buckets users by first-activity week") {
    import java.sql.Timestamp
    // absolute epoch instants (TZ-proof): noon of epoch day 19726
    // (2024-01-04 UTC, a week-bucket start: 19726 % 7 == 0) + i days
    def t(day: Int) = new Timestamp((19726L + day) * 86400000L + 43200000L)
    val e = Seq(
      (1L, t(0)), (1L, t(7)), (1L, t(15)),  // cohort w0, active w0 w1 w2
      (2L, t(1)), (2L, t(16)),              // cohort w0, active w0 w2
      (3L, t(8)))                            // cohort w1 only
      .toDF("user_id", "ts")
      .withColumn("event_id", col("user_id"))
      .withColumn("event_type", lit("view"))
      .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
    val rows = Events.retention(e).as[(Long, Long, Long)].collect()
    val w0 = rows.map(_._1).min
    assert(w0 == 19726L / 7)
    val norm = rows.map { case (c, o, n) => (c - w0, o) -> n }.toMap
    assert(norm == Map((0L, 0L) -> 2L, (0L, 1L) -> 1L, (0L, 2L) -> 2L,
      (1L, 0L) -> 1L))
  }

  test("top terms rank by tf then rare-first df") {
    val d = docs(
      1L -> "apple apple banana cherry",
      2L -> "banana banana cherry date")
    val out = TextAnalysis.topTerms(d, k = 2)
      .select("doc_id", "token", "rnk")
      .as[(Long, String, Int)].collect()
      .map { case (id, tok, r) => (id, r) -> tok }.toMap
    // doc1: apple tf=2; then cherry (df 2) vs banana (df 2)... both
    // tf=1 df=2 → lexicographic: banana
    assert(out((1L, 1)) == "apple" && out((1L, 2)) == "banana")
    // doc2: banana tf=2; then date (df 1, rarer) beats cherry (df 2)
    assert(out((2L, 1)) == "banana" && out((2L, 2)) == "date")
  }

  test("funnel advances stages only within the gap, in order") {
    import java.sql.Timestamp
    def t(min: Int) = Timestamp.valueOf(f"2024-01-01 ${10 + min / 60}%02d:${min % 60}%02d:00")
    val e = Seq(
      // user 1: view → click (+10m) → purchase (+20m): full funnel
      (1L, t(0), "view"), (1L, t(10), "click"), (1L, t(30), "purchase"),
      // user 2: view → click only after the 60m gap: stalls at stage 1
      (2L, t(0), "view"), (2L, t(70), "click"),
      // user 3: click before any view: stage counts only ordered hits
      (3L, t(0), "click"), (3L, t(5), "view"),
      // user 4: never views: absent from the funnel
      (4L, t(0), "purchase"))
      .toDF("user_id", "ts", "event_type")
      .withColumn("event_id", col("user_id"))
      .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
    val out = Events.funnel(e)
      .select("user_id", "stage").as[(Long, Int)].collect().toMap
    assert(out == Map(1L -> 3, 2L -> 1, 3L -> 1))
  }

  test("kmeans assignment moves each vector to its nearest centroid") {
    val e = Seq(
      // label 0 centroid ~ x-axis, label 1 centroid ~ y-axis
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(0.9f, 0.1f), 0),
      (2L, Array(0.0f, 1.0f), 1),
      (3L, Array(0.1f, 0.9f), 1),
      // mislabeled: sits on the x-axis but carries label 1
      (4L, Array(1.0f, 0.05f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.kmeansAssign(e)
      .select("vec_id", "assigned", "stable")
      .as[(Long, Int, Boolean)].collect()
      .map { case (id, a, st) => id -> ((a, st)) }.toMap
    assert(out(4L) == ((0, false)))
    assert(Seq(0L, 1L).forall(out(_) == ((0, true))))
    assert(Seq(2L, 3L).forall(out(_) == ((1, true))))
  }

  test("kmeans update recomputes centroids from the new assignment") {
    val e = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(0.9f, 0.1f), 0),
      (2L, Array(0.0f, 1.0f), 1),
      (3L, Array(0.1f, 0.9f), 1),
      // mislabeled: reassigned to cluster 0 by the assign step, so the
      // UPDATED centroid 0 must average over three members
      (4L, Array(1.0f, 0.05f), 1))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.kmeansUpdate(e)
      .as[(Int, Int, Long, Double)].collect()
      .map { case (c, p, n, m) => (c, p) -> ((n, m)) }.toMap
    assert(got((0, 0))._1 == 3L && got((1, 0))._1 == 2L)
    assert(math.abs(got((0, 0))._2 - (1.0f + 0.9f + 1.0f) / 3.0) < 1e-7)
    assert(math.abs(got((0, 1))._2 - (0.0f + 0.1f + 0.05f) / 3.0) < 1e-7)
    assert(math.abs(got((1, 0))._2 - (0.0f + 0.1f) / 2.0) < 1e-7)
    assert(math.abs(got((1, 1))._2 - (1.0f + 0.9f) / 2.0) < 1e-7)
  }

  test("kmeans training loop: exact fixed-point, mis-seeded vector migrates, partitioning-invariant") {
    // v4 carries seed label 0 but sits on the y-axis: round 1 must
    // move it to cluster 1, after which the clustering is stable.
    // Hand fixed-point math (float32 0.9 → 899999, 0.1 → 100000):
    // converged centroids (949999, 50000) / (50000, 949999), so both
    // clusters end with 2 members and l1_e6 = 999999 exactly.
    val e = Seq(
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(0.9f, 0.1f), 0),
      (3L, Array(0.0f, 1.0f), 1),
      (4L, Array(0.1f, 0.9f), 0))
      .toDF("vec_id", "embedding", "label")
    def res(d: org.apache.spark.sql.DataFrame) =
      Similarity.kmeansTrain(d, 3).as[(Long, Long, Long)].collect().toSet
    val expect = Set((0L, 2L, 999999L), (1L, 2L, 999999L))
    assert(res(e) == expect)
    // the fixed-point design's whole point: a different partitioning
    // (different float-summation order under a float Lloyd) must
    // reproduce the result BIT-FOR-BIT
    assert(res(e.repartition(7)) == expect)
  }

  test("kmeans training loop: an emptied cluster dies") {
    // identical vectors under two seed labels: round 1's tie-break
    // (smaller centroid id) drains cluster 1; the output carries only
    // the survivor
    val e = Seq(
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(1.0f, 0.0f), 1),
      (3L, Array(1.0f, 0.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.kmeansTrain(e, 2).as[(Long, Long, Long)].collect().toSet
    assert(got == Set((0L, 3L, 1000000L)))
  }

  test("contamination flags only docs sharing a benchmark n-gram") {
    val d = docs(
      0L -> "alpha beta gamma delta epsilon zeta",       // benchmark (0 % 97)
      1L -> "alpha beta gamma delta epsilon eta theta",  // shares one 5-gram
      2L -> "one two three four five six seven")         // clean
    val hits = TextAnalysis.contamination(d)
      .as[(Long, Long)].collect().toMap
    assert(hits == Map(1L -> 1L))
  }

  test("repetition measures the duplicate n-gram ratio") {
    val d = docs(
      1L -> "spam spam spam spam spam spam",  // all 3-grams identical
      2L -> "one two three four five six")    // all distinct
    val r = TextAnalysis.repetition(d)
      .select("doc_id", "n_grams", "n_distinct", "dup_ratio")
      .as[(Long, Long, Long, Double)].collect()
      .map { case (id, a, b, c) => id -> ((a, b, c)) }.toMap
    assert(r(1L) == ((4L, 1L, 0.75)) && r(2L) == ((4L, 4L, 0.0)))
  }

  test("split assignment is deterministic and covers every doc") {
    val d = docs((0L until 100L).map(i => i -> s"doc number $i"): _*)
    val s1 = TextAnalysis.assignSplit(d).as[(Long, String, String)]
      .collect().toSet
    val s2 = TextAnalysis.assignSplit(d).as[(Long, String, String)]
      .collect().toSet
    assert(s1 == s2 && s1.size == 100)
    val bySplit = s1.groupBy(_._3).view.mapValues(_.size).toMap
    // md5 buckets approximate 80/10/10; every class must be non-empty
    assert(bySplit.keySet == Set("train", "val", "test"))
    assert(bySplit("train") > bySplit("val") && bySplit("train") > bySplit("test"))
  }

  test("vocab topk counts lowercased tokens, ties break on token") {
    val d = docs(1L -> "B b a c", 2L -> "a c x")
    val v = TextAnalysis.vocabTopK(d, k = 3).as[(String, Long)].collect().toSeq
    // b and a both occur twice: count desc, then token asc
    assert(v == Seq("a" -> 2L, "b" -> 2L, "c" -> 2L))
  }

  test("stratified sample keeps per-source rates, deterministic") {
    val d = (0L until 200L).map(i => (i, s"doc $i", "en",
      if (i % 2 == 0) "src0" else "other", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val s1 = TextAnalysis.sampleStratified(d).as[(Long, String)].collect().toSet
    val s2 = TextAnalysis.sampleStratified(d).as[(Long, String)].collect().toSet
    assert(s1 == s2 && s1.nonEmpty)
    val bySrc = s1.groupBy(_._2).view.mapValues(_.size).toMap
    // src0 sampled at 50%, unknown sources at the 10% default
    assert(bySrc("src0") > bySrc.getOrElse("other", 0))
    assert(bySrc.getOrElse("other", 0) < 30)
  }

  test("sequence packing fills the token budget in order, never splits docs") {
    val d = docs((0L until 6L).map(i => i -> "t "*9).map {
      case (i, t) => i -> t.trim }: _*)
    // one bucket so the packing order is just doc_id order
    val p = TextAnalysis.packSequences(d, seqTokens = 20, buckets = 1)
      .select("doc_id", "pack_id", "n_tokens").as[(Long, Long, Long)]
      .collect().sortBy(_._1)
    assert(p.map(_._3).forall(_ == 9L))
    // cumulative starts 0,9,18,27,36,45 → packs 0,0,0,1,1,2 at budget 20
    assert(p.map(_._2).toSeq == Seq(0L, 0L, 0L, 1L, 1L, 2L))
  }

  test("range search returns exactly the vectors above the threshold") {
    val e = Seq(
      (0L, Array(1.0f, 0.0f), 0),   // query
      (1L, Array(1.0f, 0.1f), 0),   // cos ≈ .995
      (2L, Array(0.0f, 1.0f), 0),   // cos = 0
      (3L, Array(-1.0f, 0.0f), 0))  // cos = -1
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.rangeSearch(e, queryId = 0, tau = 0.5)
      .as[Long].collect().toSet
    assert(got == Set(1L))
  }

  test("top users rank by integer activity with deterministic ties") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val ev = Seq(
      (7L, "click", 1.0), (7L, "click", 2.0), (9L, "click", 4.0),
      (5L, "click", 8.0), (9L, "view", 16.0))
      .map { case (u, t, x) => (1L, base, u, t, x, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = Events.topUsers(ev, k = 2)
      .select("event_type", "user_id", "n", "rnk")
      .as[(String, Long, Long, Int)].collect().toSet
    // click: user 7 (n=2) then tie n=1 broken by user_id → 5
    assert(got == Set(
      ("click", 7L, 2L, 1), ("click", 5L, 1L, 2), ("view", 9L, 1L, 1)))
  }

  test("bm25 ranks the term-dense short doc first; misses score 0-matched out") {
    val d = docs(
      1L -> "spark spark spark merge",          // dense in two query terms
      2L -> "spark alpha beta gamma delta epsilon zeta eta theta iota",
      3L -> "alpha beta gamma",                 // no query terms: absent
      4L -> "window merge")
    val r = TextAnalysis.bm25TopK(d, Seq("spark", "merge", "window"), 10)
      .select("doc_id", "matched").as[(Long, Long)].collect()
    // doc 3 never scores; dense doc 1 beats the long diluted doc 2
    // (the 2-token doc 4 wins outright: length normalization)
    assert(!r.map(_._1).contains(3L))
    assert(r.map(_._1).indexOf(1L) < r.map(_._1).indexOf(2L))
    assert(r.toMap == Map(1L -> 2L, 2L -> 1L, 4L -> 2L))
    // every score positive, descending
    val scores = TextAnalysis.bm25TopK(d, Seq("spark", "merge", "window"), 10)
      .select("score").as[Double].collect()
    assert(scores.forall(_ > 0) && scores.sameElements(scores.sorted.reverse))
  }

  test("bpe pair counts count adjacent pairs, in order, with ties by token") {
    val d = docs(1L -> "a b a b c", 2L -> "a b")
    val r = TextAnalysis.bpePairCounts(d, 10)
      .as[(String, String, Long)].collect()
    // pairs: (a,b)x3, (b,a)x1, (b,c)x1
    assert(r.head == (("a", "b", 3L)))
    assert(r.toSet == Set(("a", "b", 3L), ("b", "a", 1L), ("b", "c", 1L)))
    // single-token docs contribute nothing
    assert(TextAnalysis.bpePairCounts(docs(1L -> "solo"), 10).count() == 0)
  }

  test("shard assign: every doc gets a shard; positions are 1..n per shard") {
    val d = docs((0L until 40L).map(i => i -> s"doc $i"): _*)
    val r = TextAnalysis.shardAssign(d, 4)
      .as[(Long, Int, Long)].collect()
    assert(r.length == 40 && r.map(_._1).distinct.length == 40)
    assert(r.forall(t => t._2 >= 0 && t._2 < 4))
    // per-shard positions are a contiguous 1..n ranking
    r.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq)
    }
    // deterministic across runs
    val again = TextAnalysis.shardAssign(d, 4).as[(Long, Int, Long)].collect()
    assert(r.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  test("latest state compacts to the max (ts, event_id) event per user") {
    val ev = Seq(
      (1L, "2024-01-01 00:00:01", 7L, "view", 1.5, """{"k":1}"""),
      (2L, "2024-01-01 00:00:05", 7L, "click", 2.5, """{"k":2}"""),
      // same timestamp as event 2: the higher event_id must win
      (3L, "2024-01-01 00:00:05", 7L, "purchase", 3.5, """{"k":3}"""),
      (4L, "2024-01-01 00:00:02", 8L, "view", 4.5, """{"k":4}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", col("ts").cast("timestamp"))
    val r = Events.latestState(ev)
      .select("user_id", "last_type", "last_value", "last_props", "n_events")
      .as[(Long, String, Double, String, Long)].collect().sortBy(_._1)
    assert(r.toSeq == Seq(
      (7L, "purchase", 3.5, """{"k":3}""", 3L),
      (8L, "view", 4.5, """{"k":4}""", 1L)))
  }

  test("asof join picks the most recent strictly-prior right event") {
    val ev = Seq(
      (1L, "2024-01-01 00:00:01", 7L, "view", 0.0, "{}"),
      (2L, "2024-01-01 00:00:03", 7L, "view", 0.0, "{}"),
      // purchase at 00:05 must match the view at 00:03, not 00:01
      (3L, "2024-01-01 00:00:05", 7L, "purchase", 1.0, "{}"),
      // same timestamp as the view with a HIGHER event_id: the view
      // (id 4) is strictly prior in (ts, id) order, so it matches
      (4L, "2024-01-01 00:00:08", 7L, "view", 0.0, "{}"),
      (5L, "2024-01-01 00:00:08", 7L, "purchase", 1.0, "{}"),
      // user with no prior view: NULL match
      (6L, "2024-01-01 00:00:09", 8L, "purchase", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", col("ts").cast("timestamp"))
    val r = Events.asofJoin(ev)
      .select("event_id", "prev_id", "gap_us")
      .as[(Long, Option[Long], Option[Long])].collect().sortBy(_._1)
    assert(r.toSeq == Seq(
      (3L, Some(2L), Some(2000000L)),
      (5L, Some(4L), Some(0L)),
      (6L, None, None)))
  }

  test("scd2 versions the changelog with abutting validity intervals") {
    val ev = Seq(
      (1L, "2024-01-01 00:00:01", 7L, "view", 1.0, "{}"),
      (2L, "2024-01-01 00:00:05", 7L, "click", 2.0, "{}"),
      // same timestamp as event 2: (ts, event_id) order decides
      (3L, "2024-01-01 00:00:05", 7L, "purchase", 3.0, "{}"),
      (4L, "2024-01-01 00:00:02", 8L, "view", 4.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", col("ts").cast("timestamp"))
    val base = 1704067200000000L // 2024-01-01 00:00:00 UTC in micros
    val r = Events.scd2(ev)
      .select("event_id", "version", "valid_from_us", "valid_to_us", "is_current")
      .as[(Long, Int, Long, Option[Long], Int)].collect().sortBy(_._1)
    assert(r.toSeq == Seq(
      (1L, 1, base + 1000000L, Some(base + 4999999L), 0),
      (2L, 2, base + 5000000L, Some(base + 4999999L), 0), // zero-length epoch
      (3L, 3, base + 5000000L, None, 1),
      (4L, 1, base + 2000000L, None, 1)))
  }

  test("gap fill carries the last observation over empty hours") {
    val ev = Seq(
      (1L, "2024-01-01 00:10:00", 7L, "view", 1.5, "{}"),
      (2L, "2024-01-01 00:40:00", 7L, "view", 2.5, "{}"),
      // hour 01 empty; next observation in hour 02
      (3L, "2024-01-01 02:20:00", 7L, "view", 9.5, "{}"),
      (4L, "2024-01-01 05:00:00", 8L, "view", 7.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", col("ts").cast("timestamp"))
    val hr = 3600000000L
    val base = 1704067200000000L
    val r = Events.gapFillHourly(ev)
      .select("user_id", "hour_us", "n_obs", "filled_value", "filled_from_us")
      .as[(Long, Long, Long, Double, Long)].collect()
      .sortBy(t => (t._1, t._2))
    assert(r.toSeq == Seq(
      (7L, base, 2L, 2.5, base + 2400000000L),          // last obs in-hour wins
      (7L, base + hr, 0L, 2.5, base + 2400000000L),     // filled from hour 00
      (7L, base + 2 * hr, 1L, 9.5, base + 2 * hr + 1200000000L),
      (8L, base + 5 * hr, 1L, 7.0, base + 5 * hr)))
  }

  test("cms estimates are upper bounds and tight on a small vocabulary") {
    val d = docs(
      1L -> "spark spark merge data data data",
      2L -> "window spark merge merge other words here")
    val got = Sketch.cmsTokenCounts(d)
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    // CMS never undercounts, and with ~8 distinct tokens in 1024
    // cells there are no collisions — estimates are exact here
    assert(got("spark") == ((3L, 3L)))
    assert(got("merge") == ((3L, 3L)))
    assert(got("data") == ((3L, 3L)))
    assert(got("window") == ((1L, 1L)))
    assert(got.values.forall { case (est, exact) => est >= exact })
  }

  test("hll sketch ignores duplicates and estimates inside raw-range error") {
    // each doc carries exactly one distinct 5-gram → 1500 true distincts
    val d = docs((0L until 1500L).map(i =>
      i -> s"w${i}a w${i}b w${i}c w${i}d w${i}e"): _*)
    val r1 = Sketch.hllNgramDistinct(d).collect().head
    assert(r1.getLong(0) <= 256)
    val est = r1.getDouble(2)
    // raw-range HLL at m=256: sigma ~ 6.5%; 1500 is safely > 2.5m
    assert(est > 1500 * 0.75 && est < 1500 * 1.3, s"estimate $est")
    // registers fold by max, so a fully duplicated corpus is a no-op
    val r2 = Sketch.hllNgramDistinct(d.unionByName(d)).collect().head
    assert(r1 == r2)
    // short docs (< n tokens) contribute nothing rather than throwing
    val empty = Sketch.hllNgramDistinct(docs(1L -> "a b")).collect().head
    assert(empty.getLong(0) == 0L)
  }

  test("grouped hll agrees with the global sketch on a one-source corpus") {
    val d = docs((0L until 900L).map(i =>
      i -> s"g${i}a g${i}b g${i}c g${i}d g${i}e"): _*)
    val g = Sketch.hllNgramDistinctBy(d, "source").collect()
    val o = Sketch.hllNgramDistinct(d).collect().head
    // docs() stamps every row source 't' → one group, identical fold
    assert(g.length == 1 && g.head.getString(0) == "t")
    assert(g.head.getLong(1) == o.getLong(0) &&
      g.head.getLong(2) == o.getLong(1) &&
      g.head.getDouble(3) == o.getDouble(2))
    // two disjoint sources estimate independently (each > 2.5m, the
    // raw-range floor)
    val two = docs((0L until 2000L).map(i =>
      i -> s"h${i}a h${i}b h${i}c h${i}d h${i}e"): _*)
      .withColumn("source",
        when(col("doc_id") < 1000, "s0").otherwise("s1"))
    val per = Sketch.hllNgramDistinctBy(two, "source").collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(per.keySet == Set("s0", "s1"))
    assert(per.values.forall(e => e > 1000 * 0.75 && e < 1000 * 1.3),
      per.toString)
  }

  test("quantile histogram brackets nearest-rank quantiles by log2 bucket") {
    // token counts 1,2,3,4,8,16 → buckets 0,1,1,2,3,4; n=6
    val d = docs(
      1L -> "a", 2L -> "a b", 3L -> "a b c", 4L -> "a b c d",
      5L -> "a b c d e f g h",
      6L -> "a b c d e f g h i j k l m n o p")
    val got = Sketch.quantileHist(d)
      .as[(Int, Int, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // q50: rank ceil(3.0)=3 → cum(b1)=3 → bucket 1, bounds [2,3]
    assert(got(50) == ((1, 2L, 3L, 6L)))
    // q90: rank ceil(5.4)=6 → bucket 4, bounds [16,31]
    assert(got(90) == ((4, 16L, 31L, 6L)))
    assert(got(99) == ((4, 16L, 31L, 6L)))
  }

  test("duplicated spans union overlapping windows and skip unique docs") {
    val common = (1 to 8).map(i => s"c$i").mkString(" ")
    val nine = (1 to 9).map(i => s"d$i").mkString(" ")
    val d = docs(
      1L -> s"$common x1 x2",       // 10 toks, window pos0 duplicated
      2L -> s"y1 y2 $common",       // 10 toks, window pos2 duplicated
      3L -> "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10", // all windows unique
      4L -> nine, 5L -> nine)       // 9 toks, windows pos0+pos1 both hot
    val got = Dedup.duplicatedSpans(d)
      .as[(Long, Int, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // unique doc 3 emits no row
    assert(got.keySet == Set(1L, 2L, 4L, 5L))
    assert(got(1L) == ((10, 1L, 8L, 0.8)))
    assert(got(2L) == ((10, 1L, 8L, 0.8)))
    // overlapping hot windows cover 9 tokens, not 16 — the union
    assert(got(4L) == ((9, 2L, 9L, 1.0)))
    assert(got(5L) == ((9, 2L, 9L, 1.0)))
  }

  test("paragraph dedup keeps only the first occurrence of each chunk") {
    val d = docs(
      1L -> "a b c d e f g h",  // chunks [a b c d] [e f g h]
      2L -> "a b c d x y z",    // chunk0 already kept by doc 1
      3L -> "e f g h",          // whole doc is a duplicated chunk
      4L -> "p q r s p q r s")  // within-doc repeat: second copy drops
    val got = Dedup.paragraphDedup(d, chunkTokens = 4)
      .as[(Long, Int, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    assert(got(1L) == ((8, 2L, 2L, 8L, 1.0)))
    assert(got(2L) == ((7, 2L, 1L, 3L, 3.0 / 7.0)))
    assert(got(3L) == ((4, 1L, 0L, 0L, 0.0)))
    assert(got(4L) == ((8, 2L, 1L, 4L, 0.5)))
  }

  test("bottom-k sample picks the k smallest digest tails, deterministically") {
    val d = docs((0L until 20L).map(i => i -> s"doc $i text"): _*)
    def tail24(id: Long): String = {
      val dig = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      dig.map("%02x".format(_)).mkString.substring(8)
    }
    val expect = (0L until 20L).sortBy(tail24).take(3)
    val got = TextAnalysis.sampleBottomK(d, k = 3)
      .select("doc_id").as[Long].collect()
    assert(got.sorted.toSeq == expect.sorted.toSeq)
    // the bottom-k property: a larger sample CONTAINS the smaller one
    val got5 = TextAnalysis.sampleBottomK(d, k = 5)
      .select("doc_id").as[Long].collect().toSet
    assert(got.forall(got5.contains))
  }

  test("interval join matches every view in the preceding hour, inclusive") {
    val ev = Seq(
      (1L, "2024-01-01 09:59:59", 7L, "view", 0.0, "{}"),     // > 1h before
      (2L, "2024-01-01 10:00:00", 7L, "view", 0.0, "{}"),     // exactly 1h
      (3L, "2024-01-01 10:30:00", 7L, "view", 0.0, "{}"),     // inside
      (4L, "2024-01-01 11:00:00", 7L, "purchase", 1.0, "{}"),
      (5L, "2024-01-01 11:00:01", 7L, "view", 0.0, "{}"),     // after
      (6L, "2024-01-01 10:45:00", 8L, "view", 0.0, "{}"),     // other user
      (7L, "2024-01-01 10:50:00", 9L, "purchase", 1.0, "{}")) // no views
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", col("ts").cast("timestamp"))
    val got = Events.intervalJoinStreaming(
      ev.filter(col("event_type") === "view"),
      ev.filter(col("event_type") === "purchase"))
      .select("purchase_id", "view_id").as[(Long, Long)].collect().toSet
    assert(got == Set((4L, 2L), (4L, 3L)))
  }

  test("first touch honors a non-default interval") {
    val ev = Seq(
      (1L, "2024-01-01 10:00:00", 7L, "view", 0.0, "{}"),  // outside 10m
      (2L, "2024-01-01 10:52:00", 7L, "view", 0.0, "{}"),  // inside, earliest
      (3L, "2024-01-01 10:55:00", 7L, "view", 0.0, "{}"),  // inside, later
      (4L, "2024-01-01 11:00:00", 7L, "purchase", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", col("ts").cast("timestamp"))
    // narrow window: the 10:00 view must NOT be credited (the r9 bug
    // silently ran every window at the 1-hour default)
    val narrow = Events.firstTouch(ev, "10 minutes")
      .select("purchase_id", "first_view_id", "n_views_in_window")
      .as[(Long, Option[Long], Long)].collect().toSet
    assert(narrow == Set((4L, Some(2L), 2L)))
    val wide = Events.firstTouch(ev)
      .select("purchase_id", "first_view_id", "n_views_in_window")
      .as[(Long, Option[Long], Long)].collect().toSet
    assert(wide == Set((4L, Some(1L), 3L)))
    // conversionLagHist passes its interval through: under 10 minutes
    // the lag is 8 min (480 s → bit-length bucket 9), not 60 min
    val lag = Events.conversionLagHist(ev, "10 minutes")
      .select("b", "n_purchases").as[(Int, Long)].collect().toSet
    assert(lag == Set((9, 1L)))
  }

  test("split contamination flags test docs sharing grams with train") {
    // every doc carries the same 6 tokens → exactly two distinct
    // 5-grams each; leakage is decided purely by the md5 split
    def bucket(id: Long): Long = {
      val dig = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(dig.take(2).map("%02x".format(_)).mkString, 16) % 100
    }
    val ids = (0L until 200L)
    val d = docs(ids.map(i => i -> "alpha beta gamma delta epsilon zeta"): _*)
    val expect = ids.filter(i => bucket(i) >= 90).map(i => i -> 2L).toMap
    assert(ids.exists(i => bucket(i) < 80) && expect.nonEmpty,
      "fixture must populate both train and test")
    val got = TextAnalysis.splitContamination(d)
      .as[(Long, Long)].collect().toMap
    assert(got == expect)
  }

  test("reject funnel accounts every stage's in/out/rejected exactly") {
    val good = ("the results and analysis of this be study show that " +
      "metrics have improved with careful testing across many runs today")
    val d = docs(1L -> good, 2L -> "too short", 3L -> good)
    // gopher keeps the two 20-word docs; exact dedup keeps one of them
    val got = Pipeline.rejectFunnel(d)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == Set(
      ("gopher_quality", 3L, 2L, 1L),
      ("exact_dedup", 2L, 1L, 1L)))
  }

  test("ivf probe sweep: recall grows with probes; all-clusters = exact") {
    val e = Tables.embeddings(spark, SharedSpark.sfDir)
    val got = Similarity.ivfProbeSweep(e, probes = Seq(1, 1000))
      .as[(Int, Int, Long, Double)].collect().sortBy(_._1)
    assert(got.head._3 <= got.last._3,
      "more probes can only add candidates")
    assert(got.last._4 == 1.0,
      "probing every cluster must reproduce the brute-force truth")
  }

  test("ivf+pq probe sweep: recall is monotone in probes; full probe + full rerank = exact") {
    val e = Tables.embeddings(spark, SharedSpark.sfDir)
    // rerank = corpus bound: with every cluster probed AND the whole
    // shortlist exact-reranked, the composed index must reproduce the
    // float brute-force truth (recall 1.0); 1-probe recall can only
    // be lower or equal
    val got = Similarity.ivfPqProbeSweep(e, rerank = 100000,
        probes = Seq(1, 1000))
      .as[(Int, Int, Long, Double)].collect().sortBy(_._1)
    assert(got.head._3 <= got.last._3,
      "more probes can only add candidates")
    assert(got.last._4 == 1.0,
      "probing every cluster with an unbounded rerank must be exact")
  }

  test("winnowing guarantees a shared fingerprint for shared 7-token runs") {
    // MOSS's detection floor: any common run of ≥ win+k−1 = 7 tokens
    // must share at least one selected fingerprint, however the run
    // is positioned inside each document
    val shared = "alpha beta gamma delta epsilon zeta eta"
    val d = docs(
      1L -> s"one two three $shared",
      2L -> s"$shared eight nine ten",
      3L -> "completely different words with no run at all here okay")
    val fps = TextAnalysis.winnowSets(d)
      .as[(Long, Seq[Long])].collect().map(r => r._1 -> r._2.toSet).toMap
    assert((fps(1L) & fps(2L)).nonEmpty,
      "documents sharing a 7-token run must share a fingerprint")
    assert((fps(1L) & fps(3L)).isEmpty)
    // the summary projection agrees with the sets
    val sum = TextAnalysis.winnow(d)
      .as[(Long, Int, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(sum(1L)._2 == fps(1L).size && sum(1L)._3 == fps(1L).min)
  }

  test("hash features fold tokens into stable sparse slots") {
    val d = docs(1L -> "a b a", 2L -> "a")
    val got = TextAnalysis.hashFeatures(d)
      .as[(Long, Int, Long)].collect()
    // same token → same slot in every doc; counts are exact
    val slotA1 = got.filter(r => r._1 == 1L && r._3 == 2L).map(_._2)
    val slotA2 = got.filter(r => r._1 == 2L).map(_._2)
    assert(slotA1.length == 1 && slotA2.length == 1 && slotA1(0) == slotA2(0))
    assert(got.filter(_._1 == 1L).map(_._3).sum == 3L)
  }

  test("vocab coverage counts occurrences under the top-k vocab") {
    val d = docs(1L -> "a a a b", 2L -> "b c")
    // vocabSize=2 → vocab {a(3), b(2)}; total 6, covered 5, oov 1 (c)
    val got = TextAnalysis.vocabCoverage(d, vocabSize = 2)
      .as[(Long, Long, Long)].collect().head
    assert(got == ((6L, 5L, 1L)))
  }

  test("burst peak finds the worst window and breaks ties earliest") {
    val ev = Seq(
      (1L, "2024-01-01 00:00:01", 7L, "view", 0.0, "{}"),
      (2L, "2024-01-01 00:00:02", 7L, "view", 0.0, "{}"),  // window 0: n=2
      (3L, "2024-01-01 00:10:01", 7L, "view", 0.0, "{}"),  // window 2: n=1
      (4L, "2024-01-01 00:05:01", 8L, "view", 0.0, "{}"),  // window 1: n=1
      (5L, "2024-01-01 00:10:02", 8L, "view", 0.0, "{}"))  // window 2: n=1
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", col("ts").cast("timestamp"))
    val base = 1704067200000000L // 2024-01-01 UTC in micros
    val got = Events.burstPeak(ev)
      .as[(Long, Long, Long, Long)].collect().toSet
    // user 7 peaks at 2 in window 0; user 8 ties 1-1 → EARLIEST window
    assert(got == Set(
      (7L, 2L, base, 2L),
      (8L, 1L, base + 300000000L, 2L)))
  }

  test("shingle df profile buckets document frequencies with pair volumes") {
    val d = docs(1L -> "a b c", 2L -> "a b c", 3L -> "x y z")
    // "a b c" df=2 → bucket 2, pairs 1; "x y z" df=1 → bucket 1, pairs 0
    val got = Dedup.shingleDfProfile(d)
      .as[(Int, Long, Long, Long)].collect().toSet
    assert(got == Set((1, 1L, 1L, 0L), (2, 1L, 2L, 1L)))
  }

  test("rfm buckets recency/frequency/monetary on the log2 grid") {
    val ev = Seq(
      (1L, "2024-01-01 00:00:00", 1L, "view", 0.0, "{}"),
      (2L, "2024-01-11 00:00:00", 1L, "purchase", 5.0, "{}"),
      (3L, "2024-01-04 00:00:00", 2L, "view", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", col("ts").cast("timestamp"))
    // user 1: recency 0 days (r_b 0), 2 events (f_b 2), 500 cents
    // (bin(500) = 9 bits → m_b 9); user 2: 7 days (r_b 3), 1 event
    // (f_b 1), no purchases (m_b 0)
    val got = Events.rfm(ev)
      .as[(Int, Int, Int, Long, Long)].collect().toSet
    assert(got == Set((0, 2, 9, 1L, 500L), (3, 1, 0, 1L, 0L)))
  }

  test("blocking recall compares the band pairs against the exact pairs") {
    // 20 tokens, one differing tail word → Jaccard 17/19 ≈ 0.89 ≥ 0.8
    val base = (1 to 19).map(i => s"w$i").mkString(" ")
    val d = docs(
      1L -> s"$base today",
      2L -> s"$base tonight",
      3L -> "completely different text with no shared shingles at all here")
    val r = Dedup.blockingRecall(d)
      .as[(Long, Long, Option[Double])].collect().head
    val nExact = Dedup.ngramJaccard(d).count()
    assert(r._1 == nExact && nExact > 0)
    assert(r._2 <= r._1 && r._3.contains(r._2.toDouble / r._1))
    // an exact-empty corpus reports NULL recall instead of throwing
    val empty = Dedup.blockingRecall(docs(9L -> "one two three"))
      .as[(Long, Long, Option[Double])].collect().head
    assert(empty == ((0L, 0L, None)))
  }

  test("recall@k counts the lsh/brute-force overlap of the shipped operators") {
    val e = Tables.embeddings(spark, SharedSpark.sfDir)
    val truth = Similarity.bruteForceTopK(e, 0, 10).as[Long].collect().toSet
    val approx = Similarity.lshTopK(e, 0, 10).as[Long].collect().toSet
    val r = Similarity.recallAtK(e).as[(Int, Long, Double)].collect().head
    assert(r._1 == 10)
    assert(r._2 == (truth & approx).size.toLong)
    assert(r._3 == r._2.toDouble / 10)
  }

  test("hll overlap: union estimate is the merged-register sketch, exactly") {
    val two = docs((0L until 1600L).map(i =>
      i -> s"o${i}a o${i}b o${i}c o${i}d o${i}e"): _*)
      .withColumn("source",
        when(col("doc_id") < 700, "s0")
          .when(col("doc_id") < 1400, "s1").otherwise("s2"))
    val got = Sketch.hllSourceOverlap(two)
      .as[(String, String, Double, Double, Double, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
    assert(got.keySet == Set(("s0", "s1"), ("s0", "s2"), ("s1", "s2")))
    got.values.foreach { case (ea, eb, eu, ei) =>
      // register-max merge: the union can never estimate below a side
      assert(eu >= math.max(ea, eb) && ei <= math.min(ea, eb))
      assert(ei == ea + eb - eu) // inclusion-exclusion, exact IEEE
    }
    // the pair union must equal the single sketch over both sources'
    // rows BIT FOR BIT — merging registers is rereading the corpus
    val direct = Sketch.hllNgramDistinct(two.filter(col("source") =!= "s2"))
      .select("estimate").as[Double].collect().head
    assert(got(("s0", "s1"))._3 == direct)
  }

  test("window cooc counts skip-gram pairs per distance, union over offsets") {
    val d = docs(1L -> "a b a b")
    val got = TextAnalysis.windowCooc(d, window = 2, k = 10)
      .as[(String, String, Long)].collect().toSeq
    // d=1: (a,b) (b,a) (a,b); d=2: (a,a) (b,b)
    assert(got == Seq(
      ("a", "b", 2L), ("a", "a", 1L), ("b", "a", 1L), ("b", "b", 1L)))
    // bpe pairs is exactly the window=1 slice of this statistic
    val bpe = TextAnalysis.bpePairCounts(d, k = 10)
      .as[(String, String, Long)].collect().toSeq
    assert(bpe == Seq(("a", "b", 2L), ("b", "a", 1L)))
  }

  test("token-budget mix keeps the bottleneck source whole") {
    val rows = (0L until 40L).map(i => i -> "t1 t2 t3 t4 t5") ++
      Seq(50L -> "u1 u2 u3", 51L -> "u4 u5 u6")
    val d = docs(rows: _*)
      .withColumn("source", when(col("doc_id") < 50, "big").otherwise("small"))
    // weights 50/50: small (6 tokens) is the bottleneck → rate 1;
    // big (200 tokens) accepts ~6/200
    val got = TextAnalysis.mixToTokenBudget(d,
      Map("big" -> 0.5, "small" -> 0.5))
      .as[(Long, String, Long)].collect()
    val bySource = got.groupBy(_._2)
    assert(bySource("small").map(_._1).toSet == Set(50L, 51L))
    assert(bySource("small").forall(_._3 == 3L))
    assert(!bySource.contains("big") || bySource("big").length < 40)
  }

  test("data profile reports nulls, distincts, and length bounds per column") {
    val d = Seq(
      (1L, "ab", "en", "s0", 2L),
      (2L, "abcd", null: String, "s0", 4L),
      (3L, "ab", "fr", "s1", 2L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = Pipeline.dataProfile(d)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    assert(got("doc_id") == ((3L, 0L, 3L, 1L, 3L)))
    assert(got("text") == ((3L, 0L, 2L, 2L, 4L)))
    assert(got("lang") == ((3L, 1L, 2L, 2L, 2L)))
    assert(got("source") == ((3L, 0L, 2L, 2L, 2L)))
    assert(got("n_chars") == ((3L, 0L, 2L, 2L, 4L)))
  }

  test("hll dau estimates per day without a distinct, duplicates free") {
    val rows = for (d <- 0 to 1; u <- 0 until 1500; rep <- 0 to 1) yield
      (d * 3000L + u * 2 + rep, s"2024-01-0${d + 1} 00:00:00",
        u.toLong, "view", 0.0, "{}")
    val ev = rows.toDF("event_id", "ts", "user_id", "event_type",
      "value", "props")
      .withColumn("ts", col("ts").cast("timestamp"))
    val got = Sketch.hllDailyActive(ev)
      .select("day", "estimate").as[(Long, Double)].collect().toMap
    assert(got.size == 2)
    // raw-range HLL at m=256 on 1500 true distincts: ~6.5% sigma
    got.values.foreach(e => assert(e > 1500 * 0.75 && e < 1500 * 1.3, e))
    // same user set both days → identical registers → identical estimate
    assert(got.values.toSeq.distinct.size == 1)
  }

  test("sentence stats split on terminal punctuation, empties dropped") {
    val d = docs(
      1L -> "One two. Three! Four five six? Seven",
      2L -> "no terminal punctuation here",
      3L -> "")
    val got = TextAnalysis.sentenceStats(d)
      .as[(Long, Int, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // "One two" (7), "Three" (5), "Four five six" (13), "Seven" (5)
    assert(got(1L) == ((4, 13)))
    assert(got(2L) == ((1, 28)))
    assert(got(3L) == ((0, 0)))
  }

  test("kfold assignment covers every doc with folds in [0, k)") {
    val d = docs((0L until 1000L).map(i => i -> "x"): _*)
    val got = TextAnalysis.kfoldAssign(d, k = 5)
      .as[(Long, Int)].collect()
    assert(got.length == 1000)
    assert(got.forall(r => r._2 >= 0 && r._2 < 5))
    // decorrelated from the split assignment: EVERY split bucket must
    // contain EVERY fold (a fold reusing the split's hash slice would
    // nest folds inside splits; at ≥100 docs per bucket a missing
    // fold has probability ~(4/5)^100 — vanishing)
    val both = TextAnalysis.assignSplit(d)
      .join(TextAnalysis.kfoldAssign(d, 5), "doc_id")
      .select("split", "fold").as[(String, Int)].collect()
    val bySplit = both.groupBy(_._1).view.mapValues(_.map(_._2).distinct.sorted.toSeq)
    assert(bySplit.keySet == Set("train", "val", "test"))
    bySplit.foreach { case (s, folds) =>
      assert(folds == Seq(0, 1, 2, 3, 4), s"split $s missing folds: $folds")
    }
  }

  test("int8 quantization maps the max-abs element to ±127") {
    val e = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f), 0),
      (2L, Array(0.0f, 0.0f, 0.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val q = Similarity.quantizeInt8(e)
      .select("vec_id", "scale", "q_sum").as[(Long, Double, Long)]
      .collect().map(t => t._1 -> ((t._2, t._3))).toMap
    // codes: trunc(0.5*127)=63, -127, trunc(0.25*127)=31 → sum -33
    assert(q(1L) == ((1.0 / 127, -33L)))
    // zero vector: scale 0, all codes 0
    assert(q(2L) == ((0.0, 0L)))
  }

  test("gram matrix folds exact integer upper-triangle products") {
    // codes quantize to exactly (127, 0) and (127, 127): cells —
    // (0,0): 127² + 127² = 32258; (0,1): 0 + 127² = 16129; (1,1):
    // 0 + 127² = 16129
    val e = Seq(
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(1.0f, 1.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val g = Similarity.gramMatrix(e)
      .as[(Int, Int, Long, Long)].collect()
      .map(t => (t._1, t._2) -> ((t._3, t._4))).toMap
    assert(g == Map(
      (0, 0) -> ((32258L, 2L)),
      (0, 1) -> ((16129L, 2L)),
      (1, 1) -> ((16129L, 2L))))
  }

  test("phash pairs byte-profile twins and separates a different profile") {
    import org.apache.spark.sql.functions.col
    // 64-byte payloads, one byte per block: docs 1 and 2 differ in a
    // SINGLE byte (one sign bit apart at most), doc 3 alternates
    // high/low bytes — a far signature
    val base = ("a" * 32) + ("z" * 32)
    val d = docs(
      1L -> base,
      2L -> (base.substring(0, 63) + "y"),
      3L -> ("az" * 32))
    val sig = Multimodal.phashChunks(d)
    assert(sig.count() == 3)
    val pairs = Multimodal.phashPairs(d)
      .as[(Long, Long, Int)].collect().toSeq.sortBy(p => (p._1, p._2))
    assert(pairs.map(p => (p._1, p._2)) == Seq((1L, 2L)))
    assert(pairs.head._3 <= 1)
    // short payloads (< one byte per block) are skipped, not hashed
    assert(Multimodal.phashChunks(docs(9L -> "short")).count() == 0)
  }

  test("vocab stats count types, hapax, and dis legomena exactly") {
    val d = docs(
      1L -> "spark spark spark data data one",
      2L -> "two two other")
    // tf: spark 3, data 2, two 2, one 1, other 1
    val r = TextAnalysis.vocabStats(d)
      .as[(Long, Long, Long, Long, Long)].collect().head
    assert(r == ((9L, 5L, 2L, 2L, 3L)))
  }

  test("readability floors the exact milli-Flesch rational") {
    // "aa ee. io uu" → W=4 (trim-split), S=2, vowel runs aa/ee/io/uu
    // → Syl=4. num = 206835·2·4 − 1015·16 − 84600·4·2 = 961640;
    // den = 8 → 120205 exactly
    val d = Seq((1L, "aa ee. io uu", "en", "web", 12))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextAnalysis.readability(d)
      .as[(Long, Int, Int, Int, Long)].collect().head
    assert(r == ((1L, 4, 2, 4, 120205L)))
  }

  test("incremental dedup flags incoming docs whose content exists") {
    // enough docs that both hash buckets populate; duplicate content
    // spread across ids so some incoming doc collides with existing
    val docs = (1L to 40L).map(i => (i, s"text ${i % 8}", "en", "s", 6))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Dedup.incrementalDedup(docs)
      .as[(Long, String, Boolean)].collect()
    val bucket = docs.select(col("doc_id"),
      (conv(substring(md5(col("doc_id").cast("string").cast("binary")), 29, 4),
        16, 10).cast("long") % 100).as("b"),
      md5(col("text").cast("binary")).as("fp"))
      .as[(Long, Long, String)].collect()
    val existingFps = bucket.filter(_._2 < 50).map(_._3).toSet
    val incoming = bucket.filter(_._2 >= 50)
    assert(incoming.nonEmpty && existingFps.nonEmpty, "both buckets populate")
    // output is exactly the incoming slice, flag = fp ∈ existing set
    assert(r.map(_._1).toSet == incoming.map(_._1).toSet)
    r.foreach { case (_, fp, dup) => assert(dup == existingFps.contains(fp)) }
    // with only 8 distinct texts over 40 docs, collisions must occur
    assert(r.exists(_._3))
  }

  test("containment finds the quote jaccard dilutes; gate keeps it") {
    // doc 2 is doc 1's text quoted inside much longer surroundings:
    // containment of the small side is 1.0, jaccard is diluted under
    // the 0.8 near-dup bar — exactly the asymmetric case
    val quote = "alpha beta gamma delta epsilon zeta eta theta"
    val long = (1 to 40).map(i => s"w$i").mkString(" ") + " " + quote
    val docs = Seq(
      (1L, quote, "en", "s", quote.length),
      (2L, long, "en", "s", long.length),
      (3L, "completely different words only here", "en", "s", 36))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Dedup.containmentPairs(docs)
      .select("a", "b", "c", "na", "nb").as[(Long, Long, Long, Long, Long)]
      .collect()
    assert(r.map(p => (p._1, p._2)).toSet == Set((1L, 2L)))
    val (_, _, c, na, _) = r.head
    assert(c == na, "the quote's full shingle set is contained")
    // symmetric jaccard on the same pair sits far below 0.8
    assert(Dedup.ngramJaccard(docs).count() == 0)
    // a tiny candidate budget tightens the df cap, never to zero:
    // the rarest-shingle pair survives the tightened index
    val gated = Dedup.containmentPairs(docs, maxCandidatePairs = 1L)
    assert(gated.select("a", "b").as[(Long, Long)].collect().toSet
      .subsetOf(Set((1L, 2L))))
  }

  test("containment pairs are a superset of jaccard pairs at the same tau") {
    // jac = c/(na+nb−c) ≤ c/min(na,nb) = containment, so every
    // jaccard-qualifying pair must also qualify on containment —
    // checked on a deterministic pseudo-random corpus (seeded logic,
    // not runtime randomness) that actually produces pairs of both
    // kinds
    val rnd = new scala.util.Random(7)
    val vocab = (1 to 30).map(i => s"w$i")
    def doc() = (1 to (8 + rnd.nextInt(20)))
      .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val base = (1L to 12L).map(i => (i, doc()))
    // near-dup twins: copy with one word changed
    val twins = base.take(4).map { case (i, t) =>
      (i + 100L, t.replaceFirst("w\\d+", "w1")) }
    val docs = (base ++ twins)
      .map { case (i, t) => (i, t, "en", "s", t.length) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val jac = Dedup.ngramJaccard(docs, tau = 0.9)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val cont = Dedup.containmentPairs(docs)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(jac.subsetOf(cont),
      s"jaccard pairs must be contained: missing ${jac.diff(cont)}")
    assert(cont.nonEmpty, "the twin corpus must produce pairs")
  }

  test("lateness profile measures ts lag behind the arrival-order max") {
    val ev = Seq(
      // user 7 arrival order (by event_id): ts 10, 5 (late by 5m),
      // 20, 19 (late by 1m) — max lateness 5m, 2 late, 1 over 1m?
      // 5m late = 300s > 60s, 1m late = 60s NOT > 60s (strict)
      (1L, "2024-01-01 00:10:00", 7L, "view", 0.0, "{}"),
      (2L, "2024-01-01 00:05:00", 7L, "view", 0.0, "{}"),
      (3L, "2024-01-01 00:20:00", 7L, "view", 0.0, "{}"),
      (4L, "2024-01-01 00:19:00", 7L, "view", 0.0, "{}"),
      // user 8 in order: never late
      (5L, "2024-01-01 00:01:00", 8L, "purchase", 0.0, "{}"),
      (6L, "2024-01-01 00:02:00", 8L, "purchase", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", col("ts").cast("timestamp"))
    val r = Events.latenessProfile(ev)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(t => t._1 -> t).toMap
    assert(r("view") == (("view", 4L, 2L, 300000000L, 1L, 0L)))
    assert(r("purchase") == (("purchase", 2L, 0L, 0L, 0L, 0L)))
  }

  test("epoch order decorrelates between epochs, reproduces within") {
    val docs = (1L to 200L).map(i => (i, s"t$i", "en", "s", 2))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val e1 = TextAnalysis.epochOrder(docs, epoch = 1)
      .as[(Long, Int, Int, Long)].collect().map(r => r._1 -> (r._3, r._4)).toMap
    val e2 = TextAnalysis.epochOrder(docs, epoch = 2)
      .as[(Long, Int, Int, Long)].collect().map(r => r._1 -> (r._3, r._4)).toMap
    // same doc set, every doc placed in both epochs
    assert(e1.keySet == e2.keySet && e1.size == 200)
    // epochs decorrelate: most docs move shard or position
    assert(e1.count { case (id, sp) => e2(id) != sp } > 150)
    // rerun of the same epoch reproduces the identical deal
    val e1b = TextAnalysis.epochOrder(docs, epoch = 1)
      .as[(Long, Int, Int, Long)].collect().map(r => r._1 -> (r._3, r._4)).toMap
    assert(e1b == e1)
    // positions are a permutation of 1..count within each shard
    val byShard = TextAnalysis.epochOrder(docs, epoch = 1)
      .as[(Long, Int, Int, Long)].collect().groupBy(_._3)
    byShard.values.foreach { rows =>
      assert(rows.map(_._4).sorted.toSeq == (1L to rows.length).toSeq)
    }
  }

  test("transition matrix counts per-user successors, ties by event_id") {
    val ev = Seq(
      (1L, "2024-01-01 00:00:01", 7L, "view", 0.0, "{}"),
      (2L, "2024-01-01 00:00:02", 7L, "click", 0.0, "{}"),
      // same timestamp as event 2: id order makes purchase the
      // successor of click, not the other way round
      (3L, "2024-01-01 00:00:02", 7L, "purchase", 0.0, "{}"),
      (4L, "2024-01-01 00:00:09", 8L, "view", 0.0, "{}"),
      (5L, "2024-01-01 00:00:10", 8L, "click", 0.0, "{}"),
      // user 9's single event yields no bigram
      (6L, "2024-01-01 00:00:10", 9L, "view", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", col("ts").cast("timestamp"))
    val r = Events.transitionMatrix(ev)
      .as[(String, String, Long, Double)].collect().toSet
    assert(r == Set(
      ("view", "click", 2L, 1.0),
      ("click", "purchase", 1L, 1.0)))
    // row-conditional probabilities sum to 1 per from_type
    val sums = Events.transitionMatrix(ev)
      .groupBy("from_type").agg(sum("p").as("sp"))
      .as[(String, Double)].collect().toMap
    assert(sums.values.forall(v => math.abs(v - 1.0) < 1e-9))
  }

  test("rrf fusion blends lexical and vector ranks; one-arm docs score one term") {
    // lexical: d1 hits all three query terms, d2 one, d3 none;
    // vector: v1 closest to the query, v2 orthogonal, v3 opposite
    val d = docs(
      (1L, "spark merge window"),
      (2L, "spark x y"),
      (3L, "a b c"))
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(1.0f, 0.1f), 0),
      (2L, Array(0.0f, 1.0f), 0),
      (3L, Array(-1.0f, 0.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.rrfFusion(d, emb, queryId = 0, n = 3, k = 10)
      .collect().map(x => (x.getLong(0),
        Option(x.get(1)).map(_.asInstanceOf[Long]),
        Option(x.get(2)).map(_.asInstanceOf[Long]),
        x.getDouble(3)))
    // both-arm doc 1 (ranks 1+1) beats both-arm doc 2 (2+2) beats the
    // vector-only doc 3 (rank 3); one-arm rows carry a null lex rank
    assert(r.map(_._1).toSeq == Seq(1L, 2L, 3L))
    assert(r(0)._4 == 2.0 / 61 && r(1)._4 == 2.0 / 62 && r(2)._4 == 1.0 / 63)
    assert(r(2)._2.isEmpty && r(2)._3 == Some(3L))
  }

  test("zipf head coverage is an exact ppm per source") {
    val d = Seq(
      (1L, "a a a b", "en", "A", 7L),
      (2L, "b c", "en", "B", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // global counts a=3 b=2 c=1; head(2) = {a, b}
    val r = TextAnalysis.zipfHeadCoverage(d, headK = 2)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(r == Set(("A", 4L, 4L, 1000000L), ("B", 2L, 1L, 500000L)))
  }
}
