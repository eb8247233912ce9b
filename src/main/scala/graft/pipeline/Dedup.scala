package graft.pipeline

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.{Checkpoints, Regime}
import graft.functions.FastHash.md5 // shadows functions.md5 → Md5Fast (r19)

/** Deduplication operators over the documents table.
  *
  * Scale notes (100 TB posture): every variant is
  * block-then-verify — candidate generation is a key-equality shuffle
  * (shingle, band signature, simhash band, label) whose volume is
  * O(docs x keys-per-doc), never all-pairs; the exact verification
  * join runs only on candidate pairs. Hashes are md5-derived so any
  * engine (the DuckDB oracle included) reproduces them bit-for-bit.
  */
object Dedup {

  /** Forwards to [[graft.Checkpoints.releaseCaches]]. Its only caller
    * is the benchmark program (perfbench/src/main/scala/perfbench/Main.scala:168-169);
    * graft code calls the owner directly.
    */
  def releaseCaches(): Unit = Checkpoints.releaseCaches()

  /** Distinct word n-gram shingle SET per doc, as a pure per-row
    * array expression — no explode, no shuffle:
    * (doc_id, sh_set, n_sh).
    */
  def shingleSets(docs: DataFrame, n: Int = 3): DataFrame = {
    val toks = TextAnalysis.wsTokens(col("text"))
    docs
      .select(col("doc_id"), toks.as("w"))
      .filter(size(col("w")) >= n)
      .select(col("doc_id"),
        array_distinct(transform(sequence(lit(0), size(col("w")) - n),
          i => concat_ws(" ", (0 until n).map(k => element_at(col("w"), i + k + 1)): _*)))
          .as("sh_set"))
      .withColumn("n_sh", size(col("sh_set")))
  }

  /** Exploded (doc_id, sh) view — the inverted-index input. */
  def shingles(docs: DataFrame, n: Int = 3): DataFrame =
    shingleSets(docs, n).select(col("doc_id"), explode(col("sh_set")).as("sh"))

  /** Shingle document-frequency histogram — the observability twin of
    * the candidate-volume gates: Σ c·(c−1)/2 over exactly this df
    * distribution is what [[ngramJaccard]] prices before launching
    * and what [[containmentPairs]] tightens its cap against, so this
    * is the chart an operator reads to CHOOSE the cap at a new
    * corpus. Log₂ (bit-length) df buckets with, per bucket, the
    * distinct-shingle count, total postings, and the exact pair
    * volume those postings imply — all integers, composable across
    * shards. Two partial-agg folds (df per shingle, then the
    * metadata-scale bucket count).
    */
  def shingleDfProfile(docs: DataFrame, n: Int = 3): DataFrame =
    shingles(docs, n)
      .groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .groupBy(length(bin(col("df"))).cast("int").as("df_b"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(col("df")).as("n_postings"),
        // df·(df−1) is always even → the integer div is exact
        sum(expr("(df * (df - 1)) div 2")).as("n_pairs"))

  /** Exact duplicate groups: md5(text) → group size. */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text").cast("binary")).as("text_hash"))
      .agg(count(lit(1)).as("cnt"))

  /** Exact Jaccard for candidate pairs (a, b): two joins against the
    * per-doc shingle sets, intersection via array ops — cost scales
    * with candidates, never with the corpus.
    */
  private def verifyJaccard(pairs: DataFrame, sets: DataFrame,
                            tau: Double): DataFrame = {
    val sa = sets.select(col("doc_id").as("a"), col("sh_set").as("set_a"),
      col("n_sh").as("na"))
    val sb = sets.select(col("doc_id").as("b"), col("sh_set").as("set_b"),
      col("n_sh").as("nb"))
    pairs.join(sa, "a").join(sb, "b")
      .withColumn("shared", size(array_intersect(col("set_a"), col("set_b"))))
      .withColumn("jac",
        col("shared").cast("double") /
          (col("na") + col("nb") - col("shared")).cast("double"))
      .filter(col("jac") >= tau)
  }

  /** Inverted-index-blocked n-gram Jaccard: candidate pairs share >=1
    * shingle with document frequency <= `maxDf` (equi-join on the
    * shingle), then exact Jaccard from the full shingle sets. Emits
    * (a, b, jac).
    *
    * The df cap is the 100 TB guard: one ubiquitous shingle with df=d
    * emits O(d^2) join pairs, so a handful of stop-phrase shingles
    * would dominate the whole shuffle. Capping only the INDEX keeps
    * verification exact — a missed pair needs every one of its shared
    * shingles hotter than maxDf, which a tau >= 0.8 near-dup pair of
    * ordinary documents doesn't hit (they share most of their
    * shingles, including their rare ones).
    */
  /** Exact-regime candidate-pair budget. Above it the operator
    * reroutes to minhash-band candidate generation (recall < 1) with
    * the same exact verification — the regime switch that keeps the
    * quadratic join off the cluster when the corpus outgrows it.
    */
  private[pipeline] val DefaultMaxCandidatePairs = 100000000L

  def ngramJaccard(docs: DataFrame, tau: Double = 0.8,
                   maxDf: Int = 10000,
                   maxCandidatePairs: Long = DefaultMaxCandidatePairs
                  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // persisted: the index and both exact-verify sides reuse it
    val sets = Checkpoints.persisted(shingleSets(docs))
    val sh = sets.select(col("doc_id"), col("n_sh"),
      explode(col("sh_set")).as("sh"))
    val dfAgg = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    // over-threshold shingles are FEW by construction (at most
    // total-shingle-instances / maxDf), so aggregate them and anti-join
    // — cheaper than windowing the whole inverted index, and AQE
    // broadcasts the hot list when it is small
    val hot = dfAgg.filter(col("df") > maxDf).select(col("sh"))
    val rare = sh.join(hot, Seq("sh"), "left_anti")
    // prefix filter (AllPairs/PPJoin, LOSSLESS for Jaccard >= tau):
    // under one global (df, sh) order, a qualifying pair must collide
    // inside each side's first n - ceil(tau*n) + 1 shingles, so only
    // those enter the inverted index — candidate volume shrinks
    // ~(1-tau)^2 while the verified result set stays identical.
    // Rarest-first order maximizes the pruning. The shuffles this adds
    // are all narrow (df attach + per-doc rank); the join it shrinks
    // is the quadratic one.
    val byRarity = Window.partitionBy(col("doc_id"))
      .orderBy(col("df"), col("sh"))
    val prefixLen = col("n_sh") - ceil(col("n_sh") * lit(tau)) + 1
    // persisted: the gate's volume count and the candidate self-join
    // both read it
    val prefix = Checkpoints.persisted(rare.join(dfAgg, "sh")
      .withColumn("rk", row_number().over(byRarity))
      .filter(col("rk") <= prefixLen)
      .select(col("doc_id"), col("sh"), col("n_sh")))
    // candidate-volume gate (the knnTopK count-gate idiom applied to
    // pair volume): the exact regime's join emits exactly
    // sum_sh c*(c-1)/2 raw pairs over the prefix index, so one narrow
    // aggregation prices the shuffle BEFORE the quadratic join
    // launches. The r8 sf10 soak showed that volume tracking
    // shared-shingle df^2 past this box's disk; past the budget the
    // operator reroutes to minhash-band candidates (recall < 1, the
    // standard trade) with the same exact verification. The linear
    // index build is paid either way — what the gate avoids is only
    // ever the quadratic part.
    val exactPairVolume: Long =
      if (maxCandidatePairs <= 0) Long.MaxValue
      else {
        val row = prefix.groupBy(col("sh")).agg(count(lit(1)).as("c"))
          .agg(sum(col("c") * (col("c") - lit(1L))).as("twice_pairs"))
          .head()
        if (row.isNullAt(0)) 0L else row.getLong(0) / 2
      }
    if (exactPairVolume <= maxCandidatePairs) {
      // length filter (lossless for Jaccard >= tau: |A∩B| >= τ|A∪B|
      // forces min(|A|,|B|) >= τ·max) — evaluated inside the candidate
      // join so size-mismatched pairs never reach the distinct or the
      // verifier; at 10× corpus this is the difference between pair
      // volume tracking shared-shingle df² and tracking only the
      // same-length band of it
      val cand = prefix.as("x").join(prefix.as("y"),
          col("x.sh") === col("y.sh") && col("x.doc_id") < col("y.doc_id") &&
            least(col("x.n_sh"), col("y.n_sh")) >=
              lit(tau) * greatest(col("x.n_sh"), col("y.n_sh")))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
        .distinct()
      verifyJaccard(cand, sets, tau).select(col("a"), col("b"), col("jac"))
    } else {
      // regime change is visible, not silent — unless the caller
      // FORCED this path with a non-positive budget (deliberate
      // configuration; warning would cry wolf)
      if (maxCandidatePairs > 0)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"ngramJaccard: exact-regime candidate volume $exactPairVolume " +
            s"exceeds maxCandidatePairs=$maxCandidatePairs — using " +
            "minhash-band candidates (recall < 1) with exact verification")
      val cand = bandCandidates(withBaseSet(sets))
      verifyJaccard(cand, sets, tau).select(col("a"), col("b"), col("jac"))
    }
  }

  /** Near-CONTAINMENT pairs — the asymmetric twin of [[ngramJaccard]]
    * that catches what symmetric Jaccard misses: a short document
    * quoted wholesale inside a long one (containment
    * |A∩B|/min(|A|,|B|) is high, Jaccard c/(na+nb−c) is diluted by
    * the long side). The quote/excerpt screen corpus dedup runs next
    * to near-dup detection.
    *
    * Same blocked shape as the Jaccard path: df-capped inverted
    * index (hot shingles excluded from CANDIDATE GENERATION only —
    * a missed pair needs every shared shingle hotter than maxDf),
    * exact verification from the full shingle sets. The threshold
    * compare is pure integer cross-multiplication
    * (c·den ≥ num·min(na,nb)) — no float anywhere, so every engine
    * agrees bit-for-bit. Emits the exact witnesses (c, na, nb).
    */
  def containmentPairs(docs: DataFrame, num: Int = 9, den: Int = 10,
                       maxDf: Int = 10000,
                       maxCandidatePairs: Long = DefaultMaxCandidatePairs
                      ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sets = Checkpoints.persisted(shingleSets(docs))
    val sh = sets.select(col("doc_id"), col("n_sh"),
      explode(col("sh_set")).as("sh"))
    val dfAgg = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    // NOT persisted (r19 measured): the df-attached index is derived
    // twice (prefix build + candidate probe side), but both derive
    // from the already-persisted `sets` via a cheap explode — a trial
    // persist of the wide posting relation (long shingle strings ×
    // every posting) cost 1.6× in materialization/memory churn over
    // just re-deriving it. Recompute wins when the base is cached and
    // the derivation is narrow.
    val withDf = sh.join(dfAgg, "sh")
    // prefix filter, containment form (PPJoin's overlap bound): the
    // SMALLER doc of a qualifying pair shares >= ceil(tau·n_s) of its
    // n_s shingles, so its first n_s − ceil(tau·n_s) + 1 under the
    // global (df, sh) rarity order must contain a shared one — the
    // PREFIX index joined against the FULL index is lossless while
    // carrying ~(1−tau) of the volume the full self-join would. Every
    // doc plays both roles (we don't know which side of a pair is
    // smaller), so P⋈F with P.doc ≠ F.doc catches small→big, and the
    // canonical (a<b) distinct collapses the two orientations.
    // ceil(n·num/den) computed exactly in integers.
    val prefixLen = col("n_sh") -
      floor((col("n_sh") * num + (den - 1)) / den).cast("long") + 1
    val byRarity = Window.partitionBy(col("doc_id"))
      .orderBy(col("df"), col("sh"))
    val prefix = Checkpoints.persisted(withDf
      .withColumn("rk", row_number().over(byRarity))
      .filter(col("rk") <= prefixLen)
      .select(col("doc_id"), col("n_sh"), col("sh"), col("df")))
    // adaptive df cap (the candidate-volume gate, containment form):
    // the P⋈F join emits Σ_sh pc·df raw pairs, priced by one
    // metadata-scale fold BEFORE the join. Within budget the static
    // maxDf stands; over budget the cap TIGHTENS to the largest df
    // whose cumulative volume (rarest-first) fits — recall degrades
    // gracefully from the hot end only, the same trade the jaccard
    // gate's band reroute makes, and the chosen cap is exact, not a
    // guess. (Bands are no reroute here: minhash estimates JACCARD,
    // and high-containment short-in-long pairs are exactly the
    // low-jaccard ones bands miss — that asymmetry is why this
    // operator exists.)
    val perDf = prefix.groupBy(col("df"))
      .agg(count(lit(1)).as("pc"))
      .withColumn("vol", col("pc") * col("df"))
    val effMaxDf: Long =
      if (maxCandidatePairs <= 0) maxDf.toLong
      else {
        // df-bucket table is metadata scale (≤ distinct df values);
        // the non-foldable constant partition keeps WindowExec quiet
        val one = substring(col("df").cast("string"), 0, 0)
        val cum = perDf.filter(col("df") <= maxDf)
          .withColumn("cumvol", sum(col("vol")).over(
            Window.partitionBy(one).orderBy(col("df"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val fit = cum.filter(col("cumvol") <= maxCandidatePairs)
          .agg(max(col("df"))).head()
        val d = if (fit.isNullAt(0)) 1L else fit.getLong(0)
        if (d < maxDf)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"containmentPairs: candidate volume over budget " +
              s"$maxCandidatePairs — df cap tightened $maxDf -> $d " +
              "(recall < 1 for pairs whose every shared shingle is hotter)")
        math.min(d, maxDf.toLong)
      }
    // only the SMALLER side's prefix must witness the pair (the
    // containment bound is on min(na,nb)), so the probe restricts to
    // x.n_sh <= y.n_sh — half the join volume, still lossless
    // (equal-size pairs match in both orientations and collapse in
    // the canonical distinct; ties by doc_id keep one witness)
    val cand = prefix.filter(col("df") <= effMaxDf).as("x")
      .join(withDf.filter(col("df") <= effMaxDf)
        .select(col("doc_id"), col("n_sh"), col("sh")).as("y"),
        col("x.sh") === col("y.sh") && col("x.doc_id") =!= col("y.doc_id") &&
          col("x.n_sh") <= col("y.n_sh"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("b"))
      .distinct()
    val sa = sets.select(col("doc_id").as("a"), col("sh_set").as("set_a"),
      col("n_sh").as("na"))
    val sb = sets.select(col("doc_id").as("b"), col("sh_set").as("set_b"),
      col("n_sh").as("nb"))
    cand.join(sa, "a").join(sb, "b")
      .withColumn("c", size(array_intersect(col("set_a"), col("set_b")))
        .cast("long"))
      .filter(col("c") * den >= least(col("na"), col("nb")) * num)
      .select(col("a"), col("b"), col("c"),
        col("na").cast("long").as("na"), col("nb").cast("long").as("nb"))
  }

  /** MinHash signature column h{i} = min md5("i|" + shingle) — the
    * lexicographic min of fixed-width hex strings is the min of the
    * 128-bit hash value, portable across engines.
    */
  /** Universal-hash family over a 32-bit md5 base: h_i = (a_i*x + b_i)
    * mod P. One md5 per shingle, k cheap affine maps — the hashing
    * cost is O(corpus), not O(corpus x k). a < 2^31 keeps a*x + b
    * inside signed 64-bit for any 32-bit x. The same constants are
    * embedded in the DuckDB oracle.
    */
  private[pipeline] val MINHASH_P = 4294967291L
  private[pipeline] def minhashCoeff(i: Int): (Long, Long) = (
    (2654435761L * (i + 1)) % 2147483647L + 1L,
    (2246822519L * (i + 1)) % 2147483647L)

  /** Attach the 32-bit md5 base hash per shingle — the input every
    * minhash signature is an affine map of. A projection over the
    * (persisted) shingle sets, no shuffle.
    */
  private[pipeline] def withBaseSet(sets: DataFrame): DataFrame =
    sets.withColumn("base_set", transform(col("sh_set"),
      s => conv(substring(md5(s.cast("binary")), 1, 8), 16, 10).cast("long")))

  /** Minhash band-bucket candidate pairs (a, b) from shingle sets
    * carrying `base_set`: signature columns computed per row
    * (transform + array_min) — the first shuffle in the whole plan is
    * the band-bucket join. Shared by [[minhashLsh]] and
    * [[ngramJaccard]]'s over-budget regime.
    */
  private[pipeline] def bandCandidates(sets: DataFrame, numHashes: Int = 16,
                                       bands: Int = 4): DataFrame = {
    val rowsPerBand = numHashes / bands
    val hashCols = (0 until numHashes).map { i =>
      val (a, b) = minhashCoeff(i)
      array_min(transform(col("base_set"),
        x => (lit(a) * x + lit(b)) % MINHASH_P)).as(s"h$i")
    }
    val sigs = sets.select(col("doc_id") +: hashCols: _*)
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws("_", (0 until rowsPerBand).map(r =>
          col(s"h${b * rowsPerBand + r}").cast("string")): _*).as("key"))
    }
    val buckets = sigs.select(col("doc_id"),
      explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
    buckets.as("x").join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
  }

  /** MinHash-LSH near-duplicate pairs (a, b), a < b: two documents are
    * candidates when their `numHashes` min-hashes agree on every row
    * of at least one of `bands` bands, and a candidate is kept when
    * its exact shingle-set Jaccard is at least `tau`.
    *
    * Scale shape: tokenization, shingle sets and md5 base hashes are
    * one Spark projection ([[shingleSets]] + [[withBaseSet]]) that
    * passes the regime gate ([[graft.Regime]]). At or under
    * [[graft.Regime.budget]] documents (every shipped scale, and
    * GenData up to sf1: 500 to 50,000) the driver hashes, bands and
    * verifies the fetched sets in the Spark side's arithmetic
    * ([[localMinhash]]): `dedup_minhash_lsh` at sf0.001 fires 1 job
    * instead of 9, and with the sameAs rewrite on the driver too
    * ([[graft.inference.SameAs.canonicalize]]) the `analytics` workload
    * went from 2.21 to 3.38 `ops_per_s` on a 4-vCPU box. Over the
    * budget the band-bucket self-join
    * ([[bandCandidates]]) and the exact verification
    * ([[verifyJaccard]]) run in Spark over the persisted sets.
    */
  def minhashLsh(docs: DataFrame, numHashes: Int = 16, bands: Int = 4,
                 tau: Double = 0.7): DataFrame =
    minhashLsh(docs, numHashes, bands, tau, Regime.budget)

  /** [[minhashLsh]] at an explicit gate budget; tests pass 0 to force
    * the Spark side.
    */
  private[graft] def minhashLsh(docs: DataFrame, numHashes: Int, bands: Int,
                                tau: Double, budget: Long): DataFrame = {
    val sets = withBaseSet(shingleSets(docs))
    def inSpark(gated: DataFrame): DataFrame = {
      // persisted because three plan branches (signatures, verify side
      // a, verify side b) would otherwise re-tokenize the corpus; the
      // gate has already persisted a derived (non-scan) input
      val kept = if (gated.storageLevel.useMemory) gated else Checkpoints.persisted(gated)
      verifyJaccard(bandCandidates(kept, numHashes, bands), kept, tau)
        .select(col("a"), col("b"))
    }
    val typed = sets.schema("doc_id").dataType == LongType
    (if (typed) Regime.fetchIfSmall(sets, budget) else Left(sets)) match {
      case Right(rows) =>
        val schema = sets.select(col("doc_id").as("a"), col("doc_id").as("b")).schema
        localMinhash(rows, numHashes, bands, tau)
          .fold(inSpark(sets))(Regime.localRelation(sets, schema, _))
      case Left(kept) => inSpark(kept)
    }
  }

  /** [[minhashLsh]]'s pairs from the fetched (doc_id, sh_set, n_sh,
    * base_set) rows, in [[bandCandidates]]' and [[verifyJaccard]]'s
    * arithmetic: the affine min-hashes in Long, the concat_ws("_")
    * band keys, candidates with a < b, and the same double
    * shared / (na + nb - shared) >= tau. None where the Spark side's
    * rows are not a function of each document's set alone: a null or
    * duplicated doc_id. Every set is non-empty ([[shingleSets]] keeps
    * documents of at least `n` tokens).
    */
  private def localMinhash(rows: Array[Row], numHashes: Int, bands: Int,
                           tau: Double): Option[Seq[Row]] =
    if (rows.exists(_.isNullAt(0)) ||
        rows.map(_.getLong(0)).distinct.length < rows.length) None
    else {
      val rowsPerBand = numHashes / bands
      val coeffs = (0 until numHashes).map(minhashCoeff)
      val buckets = mutable.HashMap.empty[(Int, String), mutable.ArrayBuffer[Long]]
      for (r <- rows) {
        val base = r.getSeq[Long](3)
        val h = coeffs.map { case (a, b) => base.map(x => (a * x + b) % MINHASH_P).min }
        for (band <- 0 until bands) {
          val key = (0 until rowsPerBand).map(i => h(band * rowsPerBand + i)).mkString("_")
          buckets.getOrElseUpdate((band, key), mutable.ArrayBuffer.empty) += r.getLong(0)
        }
      }
      val sets = rows.map(r => r.getLong(0) -> (r.getSeq[String](1).toSet, r.getInt(2))).toMap
      val cand = mutable.HashSet.empty[(Long, Long)]
      for (ids <- buckets.values; a <- ids; b <- ids if a < b) cand += a -> b
      def jaccard(a: Long, b: Long): Double = {
        val ((sa, na), (sb, nb)) = (sets(a), sets(b))
        val shared = sb.count(sa)
        shared.toDouble / (na + nb - shared).toDouble
      }
      Some(cand.toSeq.sorted.collect { case (a, b) if jaccard(a, b) >= tau => Row(a, b) })
    }

  /** Recall of the minhash-band blocking against the exact all-pairs
    * operator at the SAME tau — the dedup analog of the ANN
    * recall@k evaluation, and the number that justifies shipping the
    * band path as the 100 TB regime: both sides are the SHIPPED
    * operators ([[minhashLsh]] band candidates, [[ngramJaccard]]
    * exact enumeration), so this measures exactly what the regime
    * gate trades away when it reroutes. The overlap is a semi-join of
    * two pair sets (already small relative to the corpus); output is
    * one row of counts plus one exact IEEE divide.
    *
    * At 100 TB this runs on a SAMPLED corpus slice (the exact side is
    * the quadratic one — that's the point of measuring on a sample
    * before trusting the bands on the full corpus).
    */
  def blockingRecall(docs: DataFrame, tau: Double = 0.8): DataFrame = {
    // the exact side is PINNED to the exact regime (gate disabled):
    // past the budget the default gate would reroute it to the same
    // band candidates as the other side and recall would read 1.0 by
    // construction — the eval must pay the quadratic cost, which is
    // why it runs on a sampled slice at scale. The pair set is then
    // checkpointed: it feeds two count branches, and re-running the
    // candidate join per branch would double the dominant cost.
    val exact = Checkpoints.tracked(
      ngramJaccard(docs, tau, maxCandidatePairs = Long.MaxValue)
        .select(col("a"), col("b")))
    val band = minhashLsh(docs, tau = tau).select(col("a"), col("b"))
    val matched = exact.join(band, Seq("a", "b"), "left_semi")
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(matched.agg(count(lit(1)).as("n_matched")))
      .select(col("n_exact"), col("n_matched"),
        // NULL when the exact set is empty (a sparse sample has
        // nothing to measure; ANSI mode would throw on the division)
        when(col("n_exact") === 0, lit(null).cast("double"))
          .otherwise(col("n_matched").cast("double") / col("n_exact"))
          .as("recall"))
  }

  /** Exact duplicated-span detection (substring-level dedup, the
    * signal doc-level dedup misses): every `w`-token window of every
    * document is hashed; a window whose corpus-wide occurrence count
    * reaches `minDf` is DUPLICATED TEXT (boilerplate, licence
    * headers, templated spans — within-doc repeats included, they are
    * duplicated text too). Emits per affected document the number of
    * duplicated windows, the number of tokens covered by at least one
    * duplicated window (overlaps unioned, not double-counted), and
    * the covered fraction — the score pipelines threshold on to drop
    * or trim boilerplate-heavy documents.
    *
    * Scale shape: the window explode is O(tokens) rows that fold
    * map-side into per-hash counts (one co-partitioned equi-join back
    * on the hash — never all-pairs, never a doc×doc product); only
    * HOT windows (df >= minDf, typically a small fraction) explode
    * into their w covered positions for the per-doc union, so the
    * second aggregation is O(hot × w) keyed by doc_id.
    */
  def duplicatedSpans(docs: DataFrame, w: Int = 8,
                      minDf: Int = 2): DataFrame = {
    val toks = TextAnalysis.wsTokens(lower(col("text")))
    // persisted: the df fold and the hot-window join both read the
    // window relation — unshared, the O(tokens) md5 transform ran
    // twice (r19, guide §5 reuse rule)
    val wins = Checkpoints.persisted(docs
      .select(col("doc_id"), toks.as("t"))
      .filter(size(col("t")) >= w)
      .select(col("doc_id"), size(col("t")).as("n_toks"),
        posexplode(transform(sequence(lit(0), size(col("t")) - w),
          i => md5(concat_ws(" ", slice(col("t"), i + 1, lit(w)))
            .cast("binary")))))
      .withColumnRenamed("col", "hx"))
    val hotHashes = wins.groupBy(col("hx"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
    wins.join(hotHashes, "hx")
      .select(col("doc_id"), col("n_toks"), col("pos"),
        explode(sequence(col("pos"), col("pos") + w - 1)).as("tp"))
      .groupBy(col("doc_id"), col("n_toks"))
      .agg(countDistinct(col("pos")).as("dup_windows"),
        countDistinct(col("tp")).as("dup_tokens"))
      .withColumn("dup_frac",
        col("dup_tokens").cast("double") / col("n_toks").cast("double"))
  }

  /** CCNet-style paragraph-level dedup (ref keeps one copy of every
    * duplicated paragraph corpus-wide; here a "paragraph" is a
    * fixed-size non-overlapping chunk of `chunkTokens` tokens, since
    * the corpus is single-line). Every chunk is hashed; each hash
    * keeps exactly ONE canonical occurrence — the lexicographically
    * first (doc_id, chunk_pos), encoded as one comparable long so the
    * keeper pick is a plain min aggregate, no window. Within-doc
    * repeats dedup too (only the first survives). Emits per document
    * the chunk counts and the kept-token fraction — the retention
    * score after paragraph dedup.
    *
    * Unlike [[duplicatedSpans]] (overlapping windows, detection only)
    * this PARTITIONS the text into disjoint chunks and resolves a
    * canonical keeper, i.e. it decides what survives.
    *
    * Scale shape: O(tokens / chunkTokens) exploded rows; the keeper
    * table is one map-side-combinable min per hash; one equi-join
    * back on the hash. Never doc×doc, no global sort, no window.
    *
    * Keeper-key bounds: the key packs (doc_id << 20) | pos, so it is
    * collision-free for doc_id < 2^43 and < 2^20 chunks per document
    * (~21M tokens at the default width) — beyond either bound two
    * different chunks could share a key and both survive as
    * "keepers". Corpora with longer documents should raise
    * `chunkTokens` (or pre-split documents), which is the right
    * call anyway: a 21M-token "paragraph corpus" wants bigger units.
    */
  def paragraphDedup(docs: DataFrame, chunkTokens: Int = 20): DataFrame = {
    val ct = chunkTokens
    // persisted: keeper fold + keeper join both read the chunk
    // relation (r19, guide §5 reuse rule — the md5 chunk transform
    // otherwise ran twice)
    val chunks = Checkpoints.persisted(docs
      .select(col("doc_id"), TextAnalysis.wsTokens(lower(col("text"))).as("t"))
      .filter(size(col("t")) >= 1)
      .select(col("doc_id"), size(col("t")).as("n_toks"),
        posexplode(transform(
          sequence(lit(0), floor((size(col("t")) + ct - 1) / ct).cast("int") - 1),
          i => md5(concat_ws(" ", slice(col("t"), i * ct + 1, lit(ct)))
            .cast("binary")))))
      .withColumnRenamed("col", "hx")
      .withColumn("ctoks", least(lit(ct), col("n_toks") - col("pos") * ct))
      .withColumn("ck", shiftleft(col("doc_id"), 20) + col("pos")))
    val keeper = chunks.groupBy(col("hx")).agg(min(col("ck")).as("keep_ck"))
    chunks.join(keeper, "hx")
      .groupBy(col("doc_id"), col("n_toks"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("ck") === col("keep_ck"), 1L).otherwise(0L))
          .as("kept_chunks"),
        sum(when(col("ck") === col("keep_ck"), col("ctoks").cast("long"))
          .otherwise(0L)).as("kept_tokens"))
      .withColumn("kept_frac",
        col("kept_tokens").cast("double") / col("n_toks").cast("double"))
  }

  /** 64-bit simhash kept as four 16-bit chunks (c0..c3, low chunk
    * first) so both Spark and the SQL oracle parse hex 4 chars at a
    * time with exact integer arithmetic.
    */
  def simhashChunks(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(TextAnalysis.wsTokens(col("text"))).as("tok"))
      .withColumn("h", md5(col("tok").cast("binary")))
    val withChunks = toks.select(col("doc_id") +: (0 until 4).map(c =>
      conv(substring(col("h"), 1 + 4 * c, 4), 16, 10).cast("int").as(s"tc$c")): _*)
    val aggs = for (c <- 0 until 4; b <- 0 until 16) yield
      sum(when(shiftright(col(s"tc$c"), b).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"s${c}_$b")
    val bitSums = withChunks.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
    bitSums.select(col("doc_id") +: (0 until 4).map { c =>
      (0 until 16).map(b =>
        when(col(s"s${c}_$b") > 0, lit(1 << b)).otherwise(lit(0)))
        .reduce(_ + _).as(s"c$c")
    }: _*)
  }

  /** Simhash near-dup pairs: candidates share at least one 16-bit
    * chunk (4-band blocking, Hamming<=3 implies >=1 equal chunk by
    * pigeonhole when bits spread), verified by total Hamming <= maxHam.
    */
  def simhashPairs(docs: DataFrame, maxHam: Int = 3): DataFrame =
    chunkPairs(simhashChunks(docs), maxHam)

  /** Band-join near-dup pairing over ANY 64-bit signature carried as
    * four 16-bit chunks (doc_id, c0..c3): candidates share ≥1 chunk
    * (pigeonhole blocking), verified by total Hamming ≤ maxHam.
    * Shared by the text simhash and the multimodal perceptual hash —
    * the signature family changes, the scalable pairing shape
    * doesn't.
    */
  private[pipeline] def chunkPairs(sigIn: DataFrame, maxHam: Int): DataFrame = {
    // persisted: the band explode and both verify sides reuse it
    val sig = Checkpoints.persisted(sigIn)
    val buckets = sig.select(col("doc_id"), explode(array((0 until 4).map(c =>
      struct(lit(c).as("band"), col(s"c$c").as("key"))): _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
    val cand = buckets.as("x").join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    val sa = sig.toDF(sig.columns.map(c => if (c == "doc_id") "a" else c + "_a"): _*)
    val sb = sig.toDF(sig.columns.map(c => if (c == "doc_id") "b" else c + "_b"): _*)
    val ham = (0 until 4).map(c =>
      bit_count(col(s"c${c}_a").bitwiseXOR(col(s"c${c}_b")))).reduce(_ + _)
    cand.join(sa, "a").join(sb, "b")
      .withColumn("ham", ham.cast("int"))
      .filter(col("ham") <= maxHam)
      .select(col("a"), col("b"), col("ham"))
  }

  /** Streaming twin of exact dedup: the first occurrence of each text
    * hash is emitted immediately; later duplicates arriving within
    * the watermark are dropped, and the per-hash state is evicted
    * once the watermark passes — which is what bounds state on an
    * unbounded corpus stream.
    */
  def exactStreaming(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    docs.withWatermark("ts", watermark)
      .withColumn("text_hash", md5(col("text").cast("binary")))
      .dropDuplicatesWithinWatermark("text_hash")

  /** Duplicate-cluster resolution — the step that turns near-dup
    * PAIRS into a dedup decision: connected components over the pair
    * graph, every document mapped to its cluster's canonical (minimum)
    * doc_id; documents with no duplicate map to themselves. Output
    * (doc_id, canonical): keep rows where doc_id == canonical, drop
    * the rest.
    */
  /** Keep the best group member: resolve the near-dup pair graph to
    * clusters, then pick each cluster's representative by quality
    * score (doc_id ascending on exact ties — both ranking inputs are
    * computed identically on any engine, so the choice is
    * reproducible). The real corpus-build decision rule: near-dups
    * don't just collapse to the smallest id, they keep the BEST copy.
    */
  def keepBest(docs: DataFrame, pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byQuality = Window.partitionBy(col("canonical"))
      .orderBy(col("score").desc, col("doc_id").asc)
    clusters(docs, pairs)
      .join(TextAnalysis.qualityScore(docs).select(col("doc_id"), col("score")),
        "doc_id")
      .withColumn("rnk", row_number().over(byQuality))
      .groupBy(col("canonical"))
      .agg(min(when(col("rnk") === 1, col("doc_id"))).as("best_doc"),
        count(lit(1)).as("n_members"))
  }

  def clusters(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val comp = graft.graphx.Analytics.componentsById(docs.sparkSession,
      pairs.select(col("a").as("src"), col("b").as("dst")))
    docs.select(col("doc_id"))
      .join(comp, col("doc_id") === col("id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("comp"), col("doc_id")).as("canonical"))
  }

  /** Vectors + their random-hyperplane sign code, persisted (the band
    * index and both verify sides reuse it).
    */
  private[pipeline] def codedVectors(embeddings: DataFrame, planes: Int,
                                     dims: Int): DataFrame =
    Checkpoints.persisted(embeddings.select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("v"))
      .withColumn("code", Similarity.bucketCode(col("v"), planes, dims)))

  /** Candidate band widths: the divisors of the 48-plane code that
    * yield whole contiguous chunks, narrowest (highest recall, fattest
    * buckets) first.
    */
  private[pipeline] val BandBitsLadder = Seq(4, 6, 8, 12, 16, 24, 48)

  /** Choose the band width by PRICING, not guessing (r11 — the sf10
    * soak OOM'd the fixed 4-bit bands: 2·10⁵ vectors over 16 buckets
    * per band emit ~1.5e9 candidate pairs). For every ladder width
    * one exploded aggregation counts each (label, band, key) bucket
    * and sums s·(s−1)/2; the narrowest width whose exact volume fits
    * `budget` wins (wider bands = fewer, smaller buckets = lower
    * recall — the documented trade, escalated only as the data
    * demands). One pass over vectors × 36 (band, width) combos, a
    * vocabulary-scale groupBy, and a ladder-sized collect — all exact
    * integers, so the DuckDB replay picks the identical width.
    */
  private[pipeline] def adaptiveBandBits(coded: DataFrame, planes: Int,
                                         budget: Long): Int = {
    val combos = BandBitsLadder.filter(planes % _ == 0).flatMap(b =>
      (0 until planes / b).map(ch => (b, ch)))
    val keyed = coded.select(col("label"), col("code"),
      explode(array(combos.map { case (b, ch) =>
        struct(lit(b).as("b"), lit(ch).as("band"),
          shiftright(col("code"), ch * b)
            .bitwiseAND(lit((1L << b) - 1)).as("key"))
      }: _*)).as("z"))
      .select(col("z.b").as("b"), col("label"),
        col("z.band").as("band"), col("z.key").as("key"))
    val vols = keyed.groupBy(col("b"), col("label"), col("band"), col("key"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("b"))
      .agg(sum(expr("cnt * (cnt - 1) div 2")).as("vol"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    BandBitsLadder.filter(planes % _ == 0)
      .find(b => vols.getOrElse(b, 0L) <= budget)
      .getOrElse(planes)
  }

  /** LSH band candidates within a label: pairs agreeing on >=1
    * contiguous `bits`-bit slice of the hyperplane code.
    */
  private[pipeline] def embeddingCandidates(coded: DataFrame, planes: Int,
                                            bits: Int): DataFrame = {
    val buckets = coded.select(col("vec_id"), col("label"),
      explode(array((0 until planes / bits).map(ch => struct(lit(ch).as("band"),
        shiftright(col("code"), ch * bits)
          .bitwiseAND(lit((1L << bits) - 1)).as("key"))): _*)).as("bk"))
      .select(col("vec_id"), col("label"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    buckets.as("x").join(buckets.as("y"),
        col("x.label") === col("y.label") && col("x.band") === col("y.band") &&
          col("x.key") === col("y.key") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"))
      .distinct()
  }

  /** Embedding near-dups: exact cosine >= tau over blocked candidate
    * pairs, with the blocking chosen BY REGIME:
    *
    * - tau >= 0.7 (the actual near-duplicate regime): label + LSH-band
    *   candidates. Per-plane agreement is >= 0.86 there, so a handful
    *   of 4-bit bands passes essentially every true pair while pruning
    *   >99% of the block — the shape that survives a popular cell.
    * - tau < 0.7 (a similarity JOIN, not dedup): banding mathematically
    *   cannot hold recall — the miss rate (1 − p^bits)^bands explodes
    *   as per-plane agreement p falls toward the 0.5 random baseline
    *   (measured: 8 of 86 true pairs missed at tau 0.4, sf0.1). Here
    *   the label IS the block (the role an IVF coarse cell plays in a
    *   real deployment — [[Similarity.kmeansAssign]] is exactly that
    *   assignment), and every cell pair is verified. Quadratic in the
    *   cell, linear across cells; cell size is capped by the
    *   quantizer, not by luck.
    */
  def embeddingCosine(embeddings: DataFrame, tau: Double = 0.4,
                      blockPlanes: Int = 48, blockBits: Int = 0,
                      dims: Int = 64,
                      maxCandidatePairs: Long = DefaultMaxCandidatePairs
                     ): DataFrame = {
    if (tau >= 0.7) {
      val e = codedVectors(embeddings, blockPlanes, dims)
      // blockBits = 0 (default) prices the band width
      // ([[adaptiveBandBits]]) — the fixed 4-bit width this replaced
      // OOM'd the sf10 sweep soak; an explicit width stays available
      // for callers that know their distribution
      val bits =
        if (blockBits > 0) blockBits
        else adaptiveBandBits(e, blockPlanes, maxCandidatePairs)
      embeddingCandidates(e, blockPlanes, bits)
        .join(e.select(col("vec_id").as("a"), col("v").as("va")), "a")
        .join(e.select(col("vec_id").as("b"), col("v").as("vb")), "b")
        .withColumn("cos", Similarity.cosine(col("va"), col("vb")))
        .filter(col("cos") >= tau)
        .select(col("a"), col("b"))
    } else {
      val v = embeddings.select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      v.as("x").join(v.as("y"),
          col("x.label") === col("y.label") && col("x.vec_id") < col("y.vec_id"))
        .filter(Similarity.cosine(col("x.v"), col("y.v")) >= tau)
        .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"))
    }
  }

  /** Threshold sweep — the curve a dedup tau is PICKED from: pair
    * counts at 0.7 / 0.8 / 0.9 similarity from ONE candidate pass
    * (the shipped [[ngramJaccard]] run at the loosest threshold,
    * whose prefix/length filters are lossless AT that threshold, so
    * the [0.7, 0.8) band is fully present). Re-running the operator
    * per threshold would triple the corpus cost for numbers one
    * conditional aggregation already holds; the jac compare is the
    * same IEEE divide of exact integers on both engines.
    */
  def thresholdSweep(docs: DataFrame): DataFrame =
    ngramJaccard(docs, tau = 0.7)
      .agg(count(lit(1)).as("n_tau70"),
        sum(when(col("jac") >= 0.8, 1L).otherwise(0L)).as("n_tau80"),
        sum(when(col("jac") >= 0.9, 1L).otherwise(0L)).as("n_tau90"))

  /** Embedding-cosine threshold sweep — [[thresholdSweep]]'s sibling
    * on the semantic axis: near-dup pair counts at cosine 0.4/0.5/0.6
    * from ONE pass over the label-blocked candidates (the exact
    * regime [[embeddingCosine]] uses below 0.7 — the label IS the
    * quantizer cell, every cell pair verified, so all three counts
    * are exact). Per-pair cosine is a single in-row fold both engines
    * compute identically; the counts are conditional aggregations of
    * that one compare column.
    *
    * Candidate-volume gate (r10 verdict #5 — this was the one
    * quadratic regime in the repo that was documented instead of
    * priced): the exact pass emits exactly Σ n·(n−1)/2 pairs over
    * the label cells, priced by one metadata-scale fold BEFORE the
    * self-join. Within budget the counts are exact; over budget the
    * operator reroutes to hyperplane-band candidates whose BAND
    * WIDTH is itself priced ([[adaptiveBandBits]] — a fixed width
    * has no safe value across scales) — band
    * recall < 1 below cosine 0.7 (the standard trade, MEASURED by
    * dedup_blocking_recall's sibling logic), so over-budget counts
    * are lower bounds from the same verified compare. The forced
    * regime is separately oracled (`dedup_embedding_sweep_gated`).
    */
  def embeddingSweep(embeddings: DataFrame,
                     maxCandidatePairs: Long = DefaultMaxCandidatePairs,
                     blockPlanes: Int = 48, dims: Int = 64): DataFrame = {
    val exactPairVolume: Long =
      if (maxCandidatePairs <= 0) Long.MaxValue
      else {
        val r = embeddings.groupBy(col("label"))
          .agg(count(lit(1)).as("n"))
          .agg(sum(expr("n * (n - 1) div 2"))).head()
        if (r.isNullAt(0)) 0L else r.getLong(0)
      }
    val counts = { (pairs: DataFrame) =>
      pairs
        .agg(sum(when(col("cos") >= 0.4, 1L).otherwise(0L)).as("n_c40"),
          sum(when(col("cos") >= 0.5, 1L).otherwise(0L)).as("n_c50"),
          sum(when(col("cos") >= 0.6, 1L).otherwise(0L)).as("n_c60"))
    }
    if (exactPairVolume <= maxCandidatePairs) {
      val v = embeddings.select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      counts(v.as("x").join(v.as("y"),
          col("x.label") === col("y.label") &&
            col("x.vec_id") < col("y.vec_id"))
        .withColumn("cos", Similarity.cosine(col("x.v"), col("y.v"))))
    } else {
      val e = codedVectors(embeddings, blockPlanes, dims)
      // the band width is PRICED too (adaptiveBandBits) — a fixed
      // width has no safe value: 4 bits OOM'd the sf10 soak while 48
      // bits would gut recall at gate SF
      val bits = adaptiveBandBits(e, blockPlanes, maxCandidatePairs)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"embeddingSweep: exact cell-pair volume $exactPairVolume over " +
          s"budget $maxCandidatePairs — rerouting to $bits-bit " +
          "hyperplane-band candidates (counts become lower bounds " +
          "below cosine 0.7)")
      counts(embeddingCandidates(e, blockPlanes, bits)
        .join(e.select(col("vec_id").as("a"), col("v").as("va")), "a")
        .join(e.select(col("vec_id").as("b"), col("v").as("vb")), "b")
        .withColumn("cos", Similarity.cosine(col("va"), col("vb"))))
    }
  }

  /** One-row corpus dedup report — the summary a corpus build logs
    * after its dedup stage: exact-duplicate groups and droppable
    * copies, near-duplicate pairs (the shipped minhash operator),
    * and containment pairs (the shipped quote screen). Each input is
    * a single-row fold of a shipped operator, cross-joined broadcast
    * — the report costs its constituent passes, nothing more, and
    * the numbers are definitionally consistent with the operators
    * they summarize (same code paths, not re-implementations).
    */
  def corpusReport(docs: DataFrame): DataFrame = {
    // STAGED, not fused: each constituent runs as its own job and
    // releases its persisted shingle/signature intermediates before
    // the next starts. One fused plan holds every pass's caches
    // alive simultaneously — measured to OOM at sf10 where each pass
    // alone completes comfortably. A multi-pass corpus report at
    // 100 TB is a sequence of jobs with bounded driver state (five
    // scalars here), which is exactly what this builds. (The
    // releaseCaches calls evict only this report's own
    // intermediates under the driver's one-key-at-a-time execution.)
    val spark = docs.sparkSession
    val nDocs = docs.count()
    val exRow = exact(docs).agg(
      coalesce(sum(when(col("cnt") > 1, 1L).otherwise(0L)), lit(0L))
        .as("g"),
      coalesce(sum(when(col("cnt") > 1, col("cnt") - 1).otherwise(0L)),
        lit(0L)).as("d")).head()
    val nearPairs = minhashLsh(docs).count()
    Checkpoints.releaseCaches()
    val containedPairs = containmentPairs(docs).count()
    Checkpoints.releaseCaches()
    spark.createDataFrame(Seq(
        (nDocs, exRow.getLong(0), exRow.getLong(1), nearPairs,
          containedPairs)))
      .toDF("n_docs", "exact_dup_groups", "exact_dup_docs",
        "near_dup_pairs", "contained_pairs")
  }

  /** Incremental (cross-snapshot) exact dedup — the pattern every
    * continuously-ingested corpus runs: an INCOMING batch screened
    * against the fingerprint set of the EXISTING corpus, so each new
    * crawl pays one keyed join instead of re-deduping the world. Here
    * the split is simulated deterministically (an md5 bucket on
    * doc_id — the eighth decorrelated slice, chars 29-32); in
    * production the existing side is the stored fingerprint table the
    * previous run wrote. The existing side dedupes to DISTINCT
    * fingerprints before the join (the fingerprint TABLE, not the
    * corpus), so the join's build side is bounded by unique content,
    * and the per-doc verdict is a left-join existence flag — every
    * incoming doc survives with its keep/drop decision attached.
    */
  def incrementalDedup(docs: DataFrame, existingPct: Int = 50): DataFrame = {
    val bucket = conv(substring(
      md5(col("doc_id").cast("string").cast("binary")), 29, 4), 16, 10)
      .cast("long") % 100
    val fp = docs.select(col("doc_id"), bucket.as("b"),
      md5(col("text").cast("binary")).as("fp"))
    val existing = fp.filter(col("b") < existingPct)
      .select(col("fp")).distinct().withColumn("__hit", lit(1))
    fp.filter(col("b") >= existingPct)
      .join(existing, Seq("fp"), "left")
      .select(col("doc_id"), col("fp"),
        col("__hit").isNotNull.as("dup_of_existing"))
  }

  /** Cross-SOURCE duplication matrix: the [[minhashLsh]] near-dup
    * pairs rolled up by unordered source pair — which crawls copy
    * from which (the mirror/syndication signal), and how much of
    * each source's duplication is INTERNAL (the diagonal) vs leaked
    * in from elsewhere. The per-pair answer dedup_clusters already
    * gives; this is the source-level card a corpus curator reads
    * before deciding which source to drop — dropping a source whose
    * duplicates are all internal changes nothing about the rest.
    *
    * Scale shape: the dominant cost IS minhashLsh (already banded +
    * verified); after it, two vocabulary-scale broadcast joins attach
    * sources to pair endpoints and one partial-agg fold collapses to
    * a |sources|² upper bound (dozens of rows). Exact integers.
    */
  def crossSourceDup(docs: DataFrame, tau: Double = 0.7): DataFrame = {
    val pairs = minhashLsh(docs, tau = tau)
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("a"), col("source").as("sa")), "a")
      .join(src.select(col("doc_id").as("b"), col("source").as("sb")), "b")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_dup_pairs"))
  }
}
