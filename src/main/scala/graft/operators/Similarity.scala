package graft.operators

import graft.core.{GraftConf, UserException}
import graft.functions.{TopKFunctions, VectorFunctions}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SparkBridge
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}

/** Approximate-nearest-neighbor top-k and embedding near-duplicate
  * pairs over an embedding column (SURVEY.md §7.5).
  *
  * The eight entry points — `{bruteForce,ivf,lsh}TopK{,Frames}` here
  * and `Dedup.embeddingNearDup{,Frames}` — run one pipeline
  * ([[annSearch]]) in three parts:
  *
  *  1. CANDIDATE SOURCE ([[CandidateSource]]) — which (probe,
  *     candidate) pairs are scored at all: every pair (brute force,
  *     near-dup), the corpus rows in the probe's random-hyperplane
  *     signature bucket (LSH), or the corpus rows in the probe's
  *     `nProbe` nearest inverted lists (IVF). The source supplies the
  *     restriction index the embedded kernels carry and the bucket key
  *     the over-cap join equi-joins on.
  *  2. ONE REGIME DECISION ([[decideRegime]]), by bounded driver work:
  *     - PROBES (the probe matrix fits the collect caps): the probes
  *       embed in ⌈probes/gate⌉ balanced, disjoint chunk kernels —
  *       `graft_probe_topk` aggregates or `graft_probe_matches`
  *       projections, each over one corpus scan with zero joined rows
  *       (the join formulation paid ~1.9 µs/pair of row plumbing around
  *       a ~30 ns dot at sf10). Probes partition across chunks, so the
  *       union IS the single-kernel answer; the per-task heap state
  *       stays gate × k, which is why the gate exists.
  *     - CORPUS, the role swap (probes over the caps, corpus within
  *       them; all-pairs sources only, since the LSH and IVF indexes are
  *       probe-side): the corpus embeds instead, in disjoint candidate
  *       chunks projected over one probe scan each (`graft_corpus_topk`,
  *       or `graft_probe_matches` reversed).
  *     - BOTH OVER: a join. For LSH and IVF it is the bucket equi-join,
  *       salted when the key space is below the shuffle parallelism
  *       ([[AnnBucketSaltKey]]) — the scale path. For all pairs it is a
  *       non-equi join that plans as CartesianProduct above broadcast
  *       size and was measured dead at sf10 (2¹⁵ probes × 200k corpus
  *       filled >60 GB of spill, BENCHNOTES_r14), so it fails fast
  *       unless [[AnnForceJoinKey]] is set. `maxEmbeddedProbes = 0`
  *       disables every kernel and runs the join silently: the spec seam
  *       pinning kernel ≡ join.
  *  3. ONE KERNEL / JOIN PATH PER OUTPUT SHAPE ([[AnnOutput]]): top-k
  *     rows (probe_id, rank, cand_id, sim) come from the kernels' own
  *     heaps or merge through the bounded `graft_top_k` aggregate;
  *     threshold pairs (probe_id, cand_id) come straight from
  *     `graft_probe_matches` or the join's filter.
  *
  * Every regime returns the same rows (spec-pinned) with BIGINT ids.
  * Scores are round(cosine, 6) from per-side norms ([[splitCosine]]);
  * ranking ties break on candidate id; null ids and null vectors never
  * pair. Driver memory is bounded by a row cap (`maxChunkedProbes`)
  * and a byte budget (`maxCollectBytes`), and `dims` — an embedding
  * width known statically — skips the one-row width sniff. When a
  * kernel regime runs several chunks, each chunk re-runs the scanned
  * frame's lineage: persist a DERIVED frame (anything that is not a
  * plain parquet scan) before calling. No broadcast is forced above the
  * gate: a probe side known only to exceed the cap can grow with the
  * corpus, so the planner sizes the join from its stats.
  *
  * Hyperplanes and the default IVF quantizer are deterministic (md5,
  * first corpus ids), so runs reproduce without a seed exchange and
  * the oracles replay them.
  */
object Similarity {

  private val log = org.slf4j.LoggerFactory.getLogger("graft.operators.Similarity")

  /** Cosine from PRE-COMPUTED per-side norms: bit-identical to the fused
    * `graft_cosine` (which computes `dot/(sqrt(nx)*sqrt(ny))` with the
    * zero-denominator guard replicated here; graft_norm2 IS sqrt(nx)
    * with the same accumulation order), but the per-PAIR loop is dot
    * alone — one third of the fused kernel's arithmetic, with each
    * row's norm amortized over every pair it joins into.
    *
    * PRECONDITION — uniform embedding dimension. The fused kernel
    * accumulates BOTH norms over min(len_a, len_b), while graft_norm2
    * (and the kernels' per-side norms) cover each side's FULL length;
    * the two agree exactly iff every paired vector has the same
    * dimension, which an embedding column has by construction.
    */
  private def splitCosine(
      spark: SparkSession, a: Column, b: Column, normA: Column, normB: Column): Column = {
    val denom = normA * normB
    when(denom === 0.0, 0.0).otherwise(VectorFunctions.dot(spark, a, b) / denom)
  }

  /** (probe_id, rank, cand_id, sim) rows of `df`'s best-first
    * per-probe `heap` array; probe_id is cast BIGINT because the
    * embedded kernels emit BIGINT ids and the output schema may not
    * change when data size tips the regime.
    */
  private def ranked(df: DataFrame, heap: Column): DataFrame =
    df.select(col("probe_id"), posexplode(heap).as(Seq("pos", "e")))
      .select(col("probe_id").cast("long").as("probe_id"),
        (col("pos") + 1).cast("long").as("rank"),
        col("e.cand_id").as("cand_id"), col("e.sim").as("sim"))

  /** Per-probe k best candidates of a scored (probe_id, cand_id, sim)
    * frame through the mergeable bounded-top-k aggregate (TopKFunctions
    * scaladoc). The `row_number()` window is the same answer on
    * non-null scores (the aggregate drops null sims; none arise here,
    * as null inputs never pair) but shuffles every scored row; the
    * aggregate partial-reduces each map task to k rows per probe.
    */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    ranked(scored.groupBy("probe_id")
      .agg(TopKFunctions.topK(scored.sparkSession, col("sim"), col("cand_id"), k).as("tk")),
      col("tk"))

  /** How an over-gate ANN call will execute, decided by BOUNDED
    * driver work (see [[decideRegime]]).
    */
  private[graft] sealed trait AnnRegime
  private[graft] object AnnRegime {
    /** the probe side fits the collect cap: embedded (≤ gate rows) or
      * chunked kernels
      */
    final case class Probes(rows: Array[Row]) extends AnnRegime
    /** probes exceed the cap but the corpus fits: role swap */
    final case class Corpus(rows: Array[Row]) extends AnnRegime
    /** both sides exceed the cap (or the kernels are disabled) */
    case object BothOver extends AnnRegime
  }

  /** What [[decideRegime]] decided, plus the bounds it decided WITH —
    * callers chunk by `chunkRows` (the byte-shrunk effective gate, so
    * each chunk's embedded literal matrix respects the byte budget
    * too) and report `effectiveCap` in the fail-fast message (the cap
    * the data actually exceeded, which the byte budget may have set
    * well below the row cap the caller passed). `fetched` counts rows
    * driver-transferred (the spec hook for the transfer bound); `dims`
    * is the embedding dimension (reused by the LSH join regime's
    * signature expression instead of a second sizing job).
    */
  private[graft] final case class RegimeDecision(
      regime: AnnRegime,
      fetched: Long,
      chunkRows: Int,
      effectiveCap: Long,
      dims: Option[Int])

  /** Regime decision + matrix collect for the kernel ANN operators,
    * with BOUNDED driver transfer on every path:
    *
    *  1. sniff the embedding dimension from ONE non-null probe vector
    *     (a `head(1)` job — the only job the decision adds to the
    *     kernel-enabled path) and shrink the EFFECTIVE gate to
    *     `min(maxEmbeddedProbes, maxCollectBytes / (8·dims))` BEFORE
    *     any matrix moves: the gate prefix itself is rows × dims × 8
    *     bytes of driver transfer, so a dims-blind gate of 2¹⁶ rows
    *     means ~2.1 GB at 4096-dim embeddings. The shrunk gate also
    *     bounds each chunk's embedded literal matrix (gate × dims × 8
    *     bytes of plan shipped per executor), since callers chunk by it.
    *  2. collect `limit(gate + 1)` probe rows — ≤ gate means EMBEDDED
    *     and the prefix IS the matrix.
    *  3. otherwise COUNT the probe side against the effective cap —
    *     `min(max(maxChunkedProbes, gate), maxCollectBytes/(8·dims))`
    *     (`limit(cap + 1).count()`, a bounded job transferring one
    *     long, NOT a matrix) — and collect the full probe matrix only
    *     when it fits → CHUNKED.
    *  4. else count the corpus the same way and collect IT when it
    *     fits → ROLE SWAP. Only the gate prefix is live during this
    *     collect.
    *  5. both over → [[AnnRegime.BothOver]], having driver-transferred
    *     O(gate) rows + two counts to find out.
    *
    * The byte budget sizes BOTH sides with the probe dims (uniform
    * embedding dimension is already splitCosine's scoring
    * precondition). A budget below one row's bytes floors at 1 row —
    * the cap then routes over-gate calls to role swap / fail-fast
    * rather than collecting a matrix over budget.
    *
    * `knownDims`: a caller whose embedding width is STATICALLY known (a
    * model's fixed dimension) skips the one-row sniff job. The value
    * feeds exactly what the sniff fed (the byte-budget row caps), so a
    * correct hint yields the identical decision with one row less
    * `fetched`. A wrong hint would size the budget wrongly, so it is
    * checked, with no extra job, against the first non-empty vector of
    * the gate prefix, and a mismatch is a [[UserException]].
    */
  private[graft] def decideRegime(
      probes: DataFrame, probeIdCol: String, probeVecCol: String,
      corpus: Option[(DataFrame, String, String)],
      maxEmbeddedProbes: Int, maxChunkedProbes: Int,
      maxCollectBytes: Long,
      knownDims: Option[Int] = None): RegimeDecision = {
    // clamped vs Int overflow when a caller passes Int.MaxValue (the
    // fail-fast message explicitly invites raising the caps)
    val rawGate = math.min(math.max(maxEmbeddedProbes, 0), Int.MaxValue - 1)
    if (rawGate == 0) return RegimeDecision(AnnRegime.BothOver, 0L, 0, 0L, None)
    val pSel = probes.select(
      col(probeIdCol).cast("long"), col(probeVecCol).cast("array<double>"))
    val hint = knownDims.filter(_ > 0)
    val dims = hint.orElse {
      probes
        .select(col(probeVecCol).cast("array<double>").as("__v"))
        .where(col("__v").isNotNull && size(col("__v")) > 0)
        .select(size(col("__v"))).head(1).headOption.map(_.getInt(0))
    }
    var fetched = if (hint.isDefined) 0L else dims.size.toLong
    val byteCapRows = dims.map(d => math.max(1L, maxCollectBytes / (8L * d)))
      .getOrElse(Long.MaxValue) // no non-null probe vector: row caps govern
    val gate = math.min(rawGate.toLong, byteCapRows).toInt
    val head = pSel.limit(gate + 1).collect()
    fetched += head.length
    for (d <- hint; w <- head.iterator.filterNot(_.isNullAt(1))
        .map(_.getSeq[Double](1).length).find(_ > 0) if w != d)
      throw new UserException(s"dims = $d does not match the $w-dim vectors " +
        s"of column $probeVecCol: the hint sizes the collect byte budget, " +
        s"so pass dims = Some($w) or leave it unset")
    if (head.length <= gate)
      return RegimeDecision(AnnRegime.Probes(head), fetched, gate, gate, dims)
    // byteCapRows ≥ gate by construction of gate, so cap ≥ gate too
    val cap = math.min(math.max(maxChunkedProbes.toLong, gate.toLong), byteCapRows)
      .min(Int.MaxValue - 1L).toInt
    val pCount = pSel.limit(cap + 1).count()
    fetched += 1
    if (pCount <= cap) {
      val all = pSel.limit(cap).collect()
      return RegimeDecision(
        AnnRegime.Probes(all), fetched + all.length, gate, cap, dims)
    }
    corpus match {
      case Some((c, cIdCol, cVecCol)) =>
        val cSel = c.select(
          col(cIdCol).cast("long"), col(cVecCol).cast("array<double>"))
        val cCount = cSel.limit(cap + 1).count()
        fetched += 1
        if (cCount <= cap) {
          val all = cSel.limit(cap).collect()
          RegimeDecision(
            AnnRegime.Corpus(all), fetched + all.length, gate, cap, dims)
        } else RegimeDecision(AnnRegime.BothOver, fetched, gate, cap, dims)
      case None => RegimeDecision(AnnRegime.BothOver, fetched, gate, cap, dims)
    }
  }

  /** Session conf: set true to let the exact operators submit the
    * non-equi join when BOTH sides exceed the collect cap, instead of
    * failing fast (the join plans as CartesianProduct above broadcast
    * size — measured disk-bound at sf10, BENCHNOTES_r14).
    */
  val AnnForceJoinKey = "spark.graft.ann.forceJoin"

  /** Both sides over the cap with kernels enabled: the engine does NOT
    * silently submit a plan its own measurements called dead — fail
    * fast with the scale alternatives, unless the caller explicitly
    * opts into the join via [[AnnForceJoinKey]] (then warn). `cap` is
    * the EFFECTIVE cap the decision used — when the byte budget
    * governed, that is smaller than the row cap the caller passed, and
    * the message must name the bound the data actually exceeded.
    */
  private def enforceJoinContract(spark: SparkSession, op: String, cap: Long): Unit = {
    val msg = s"$op: BOTH probe and corpus side exceed the collect cap " +
      s"(maxChunkedProbes/maxCollectBytes, effective $cap rows) — the " +
      "exact non-equi join plans as CartesianProduct above broadcast " +
      "size and was measured disk-bound at scale (BENCHNOTES_r14). " +
      "Use lshTopKFrames/ivfTopKFrames (bucket equi-joins) at this " +
      s"scale, raise the caps, or set $AnnForceJoinKey=true to submit " +
      "the join anyway."
    if (GraftConf.boolean(spark.sessionState.conf, AnnForceJoinKey, false)) log.warn(msg)
    else throw new UserException(msg)
  }

  /** Session conf: probe-side replication factor for the over-cap
    * bucket equi-joins (LSH signature / IVF inverted list). The bucket
    * key space is SMALL by construction — 2^planes signatures, one key
    * per centroid — so the join's shuffle parallelism is key-capped and
    * a dense region makes a hub bucket one task owns. Salting splits
    * every bucket S ways: candidates take a deterministic salt from
    * their id hash, probes replicate across all S salts — each (probe,
    * candidate) pair still meets in exactly one salt, so results are
    * IDENTICAL (the regime-equivalence specs and the q81 oracle run
    * salted). 0 (the default) = auto: ceil(shuffle partitions / key
    * count) — just enough to restore full shuffle parallelism, a no-op
    * when keys already exceed partitions.
    */
  val AnnBucketSaltKey = "spark.graft.ann.bucketSalt"

  private def bucketSalt(spark: SparkSession, nKeys: Long): Int = {
    val conf = GraftConf.int(spark.sessionState.conf, AnnBucketSaltKey, 0)
    if (conf > 0) conf
    else {
      val parts = spark.sessionState.conf.numShufflePartitions.toLong
      math.min(math.max(1L, (parts + nKeys - 1) / nKeys), 1L << 20).toInt
    }
  }

  /** Salted bucket equi-join (see [[AnnBucketSaltKey]]): `cands` must
    * carry `cand_id`; both sides must carry `bucketCol`. Probe-side
    * rows replicate `salt` ways, so callers size `salt` against the
    * probe frame they pass.
    */
  private def saltedBucketJoin(
      cands: DataFrame, probes: DataFrame, bucketCol: String,
      salt: Int): DataFrame =
    if (salt <= 1) cands.join(probes, Seq(bucketCol))
    else {
      val salted = cands.withColumn("__salt",
        pmod(xxhash64(col("cand_id")), lit(salt.toLong)))
      val replicated = probes.withColumn("__salt",
        explode(typedlit((0L until salt.toLong).toSeq)))
      salted.join(replicated, Seq(bucketCol, "__salt")).drop("__salt")
    }

  /** Deterministic hyperplane component for plane `p`, dim `d`:
    * md5-derived uniform in [-1, 1). Computed ONCE on the driver —
    * hyperplanes are constants, so they embed as literal arrays and
    * the per-row work is just the codegen'd dot-product kernel
    * (the expression-level formulation recomputed ~planes×dims md5
    * calls per row).
    */
  private[graft] def planeComponent(p: Int, d: Int): Double = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(s"plane$p:$d".getBytes("UTF-8"))
    val hex8 = digest.take(4).map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex8, 16).toDouble / 2147483648.0 - 1.0
  }

  private def planeVector(p: Int, dims: Int): Seq[Double] =
    (0 until dims).map(d => planeComponent(p, d))

  /** Sign-bit signature against `planes` literal hyperplanes of
    * dimension `dims`; one small integer per row, map-side only.
    */
  def lshSignature(df: DataFrame, vec: Column, planes: Int, dims: Int): Column = {
    val spark = df.sparkSession
    val v = vec.cast("array<double>")
    (0 until planes).map { p =>
      val dotp = VectorFunctions.dot(spark, v, typedlit(planeVector(p, dims)))
      when(dotp >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Top-`n` nearest centroid ids for a vector, as an array column:
    * sort a tiny struct array of (-dot, id) — map-side only.
    */
  private def nearestLists(
      spark: SparkSession, centroids: Array[Seq[Double]], vec: Column, n: Int): Column = {
    val scored = array(centroids.zipWithIndex.map { case (c, p) =>
      struct((-VectorFunctions.dot(spark, vec, typedlit(c))).as("negs"),
        lit(p).as("id"))
    }.toSeq: _*)
    slice(transform(array_sort(scored), s => s.getField("id")), 1, n)
  }

  /** Driver-side dot over the common prefix (the kernels' rule). */
  private def dot(a: Array[Double], b: Array[Double]): Double = {
    val d = math.min(a.length, b.length)
    var s = 0.0; var i = 0
    while (i < d) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Pipeline part 1: which (probe, candidate) pairs are scored. */
  private[operators] sealed trait CandidateSource
  private[operators] object CandidateSource {
    case object AllPairs extends CandidateSource
    /** corpus rows sharing the probe's sign-bit signature against
      * `planes` deterministic hyperplanes
      */
    final case class Lsh(planes: Int) extends CandidateSource
    /** corpus rows whose nearest centroid is among the probe's `nProbe`
      * nearest (ties to the lower centroid index)
      */
    final case class Ivf(centroids: Array[Seq[Double]], nProbe: Int) extends CandidateSource
  }

  /** Pipeline part 3: what the scored pairs become. */
  private[operators] sealed trait AnnOutput
  private[operators] object AnnOutput {
    /** each probe's `k` best candidates; `includeSelf` also scores
      * probe_id == cand_id (cross-corpus id spaces, where a numeric
      * collision is not a self-pair)
      */
    final case class TopK(k: Int, includeSelf: Boolean) extends AnnOutput
    /** every pair with raw cosine above `threshold`, as probe_id <
      * cand_id; `allPairs` drops that id ordering (distinct frames,
      * where it would discard about half the true matches)
      */
    final case class Pairs(threshold: Double, allPairs: Boolean) extends AnnOutput
  }

  /** Collected (id, vector) rows as ⌈n/chunkRows⌉ balanced, disjoint
    * (ids, vectors) chunks. Null-id and null-vector rows are dropped
    * first: the join regime's null-valued conditions never pair them.
    */
  private def chunks(rows: Array[Row], chunkRows: Int): Seq[(Array[Long], Array[Array[Double]])] = {
    val usable = rows.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
    val n = math.max(1, math.ceil(usable.length.toDouble / math.max(chunkRows, 1)).toInt)
    (0 until n).map { c =>
      val slice = usable.slice(
        (c.toLong * usable.length / n).toInt, ((c + 1).toLong * usable.length / n).toInt)
      (slice.map(_.getLong(0)), slice.map(_.getSeq[Double](1).toArray))
    }
  }

  /** The probe-embedded top-k kernel for one probe chunk. The source's
    * restriction index is resolved driver-side per chunk: none for all
    * pairs, `probesBySig` (the chunk's probes by signature) for LSH,
    * `probesByList` (each probe under its nProbe nearest lists) for
    * IVF. `width` is the first probe vector's dimension, the plane
    * width.
    */
  private def probeTopK(
      source: CandidateSource, cId: Expression, cVec: Expression, k: Int,
      includeSelf: Boolean, width: Int)
      : (Array[Long], Array[Array[Double]]) => TopKFunctions.ProbeTopKAgg = source match {
    case CandidateSource.AllPairs =>
      TopKFunctions.ProbeTopKAgg(cId, cVec, _, _, k, includeSelf = includeSelf)
    case CandidateSource.Lsh(planes) =>
      val planeMat = Array.tabulate(planes, width)((p, d) => planeComponent(p, d))
      def sig(v: Array[Double]): Long =
        planeMat.indices.foldLeft(0L)((s, p) => if (dot(planeMat(p), v) >= 0) s | 1L << p else s)
      (ids, vecs) => TopKFunctions.ProbeTopKAgg(cId, cVec, ids, vecs, k,
        planes = planeMat,
        probesBySig = vecs.indices.groupBy(pi => sig(vecs(pi)))
          .map { case (s, idxs) => s -> idxs.toArray },
        includeSelf = includeSelf)
    case CandidateSource.Ivf(centroids, nProbe) =>
      val cents = centroids.map(_.toArray)
      (ids, vecs) => {
        val byList = Array.fill(cents.length)(Array.newBuilder[Int])
        vecs.zipWithIndex.foreach { case (v, pi) =>
          cents.indices.sortBy(c => (-dot(v, cents(c)), c)).take(nProbe)
            .foreach(c => byList(c) += pi)
        }
        TopKFunctions.ProbeTopKAgg(cId, cVec, ids, vecs, k,
          centroids = cents, probesByList = byList.map(_.result()),
          includeSelf = includeSelf)
      }
  }

  /** The over-cap join's equi-join key: its column name, its probe-side
    * and candidate-side expressions over `probe_vec` / `cand_vec`, and
    * the key count salting sizes against.
    */
  private final case class Bucket(name: String, probeKey: Column, candKey: Column, nKeys: Long)

  /** `source`'s join bucket, or None: all pairs is the non-equi join. */
  private def bucketOf(
      source: CandidateSource, dec: RegimeDecision,
      probes: DataFrame, probeVecCol: String,
      corpus: DataFrame, corpusVecCol: String): Option[Bucket] = source match {
    case CandidateSource.AllPairs => None
    case CandidateSource.Lsh(planes) =>
      // dims: the decision's; the gate=0 seam skipped the sniff (kernels
      // disabled = zero extra jobs there), so ask the probes, then the
      // corpus — non-null vectors only, tolerating an all-null / empty
      // side: 0 dims then, every signature collapses to one bucket, and
      // null vectors score no rows, which is correct
      def width(df: DataFrame, vecCol: String): Option[Int] =
        df.where(col(vecCol).isNotNull).select(size(col(vecCol).cast("array<double>")))
          .head(1).headOption.map(_.getInt(0))
      val dims = dec.dims.orElse(width(probes, probeVecCol))
        .orElse(width(corpus, corpusVecCol)).getOrElse(0)
      Some(Bucket("sig",
        lshSignature(probes, col("probe_vec"), planes, dims),
        lshSignature(corpus, col("cand_vec"), planes, dims),
        1L << math.min(planes, 62)))
    case CandidateSource.Ivf(centroids, nProbe) =>
      val spark = corpus.sparkSession
      Some(Bucket("list_id",
        explode(nearestLists(spark, centroids, col("probe_vec"), nProbe)),
        element_at(nearestLists(spark, centroids, col("cand_vec"), 1), 1),
        math.max(centroids.length.toLong, 1L)))
  }

  /** The pipeline behind all eight entry points (object scaladoc):
    * `source` picks the candidates, [[decideRegime]] the regime, `out`
    * the kernel and the join tail. Pair output hash-rebalances its
    * scanned side on the id; top-k rebalances round-robin.
    */
  private[operators] def annSearch(
      source: CandidateSource, out: AnnOutput,
      probes: DataFrame, probeIdCol: String, probeVecCol: String,
      corpus: DataFrame, corpusIdCol: String, corpusVecCol: String,
      maxEmbeddedProbes: Int, maxChunkedProbes: Int, maxCollectBytes: Long,
      dims: Option[Int]): DataFrame = {
    require(source == CandidateSource.AllPairs || out.isInstanceOf[AnnOutput.TopK],
      "threshold pairs score all pairs")
    val spark = corpus.sparkSession
    // a single-row-group embedding file scans as ONE task; rebalance
    // so it does not serialize the scoring loop on one core
    def scanned(df: DataFrame, idCol: String, vecCol: String, side: String): DataFrame =
      Dedup.rebalance(df.select(col(idCol).as(s"${side}_id"), col(vecCol).as(s"${side}_vec")),
        if (out.isInstanceOf[AnnOutput.Pairs]) Seq(col(s"${side}_id")) else Nil)
    val dec = decideRegime(probes, probeIdCol, probeVecCol,
      Option.when(source == CandidateSource.AllPairs)((corpus, corpusIdCol, corpusVecCol)),
      maxEmbeddedProbes, maxChunkedProbes, maxCollectBytes, knownDims = dims)
    dec.regime match {
      case AnnRegime.Probes(rows) =>
        val cand = scanned(corpus, corpusIdCol, corpusVecCol, "cand")
        val cId = SparkBridge.expression(cand("cand_id"))
        val cVec = SparkBridge.expression(cand("cand_vec"))
        val parts = chunks(rows, dec.chunkRows)
        out match {
          case AnnOutput.TopK(k, includeSelf) =>
            val kernel = probeTopK(source, cId, cVec, k, includeSelf,
              parts.head._2.headOption.fold(0)(_.length))
            parts.map { case (ids, vecs) =>
              cand.agg(SparkBridge.column(kernel(ids, vecs).toAggregateExpression()).as("tk"))
            }.reduce(_.union(_))
              .select(explode(col("tk")).as("e"))
              .select(col("e.probe_id").as("probe_id"), col("e.rank").as("rank"),
                col("e.cand_id").as("cand_id"), col("e.sim").as("sim"))
          case AnnOutput.Pairs(threshold, allPairs) =>
            parts.map { case (ids, vecs) =>
              cand.select(col("cand_id"), explode(SparkBridge.column(TopKFunctions.ProbeMatches(
                cId, cVec, ids, vecs, threshold, emitAll = allPairs))).as("probe_id"))
            }.reduce(_.union(_))
              .select(col("probe_id"), col("cand_id").cast("long").as("cand_id"))
        }
      case AnnRegime.Corpus(rows) =>
        val probe = scanned(probes, probeIdCol, probeVecCol, "probe")
        val pId = SparkBridge.expression(probe("probe_id"))
        val pVec = SparkBridge.expression(probe("probe_vec"))
        val parts = chunks(rows, dec.chunkRows)
        // each kernel sits DIRECTLY inside its generator, never behind a
        // projected alias: InferFiltersFromGenerate skips non-cheap
        // generator inputs, but an aliased array gets a `size(tk) > 0`
        // filter inferred and pushed THROUGH the projection — duplicating
        // the whole corpus-chunk scoring loop per probe row (measured:
        // the q72 audit plan ran the kernel twice)
        out match {
          case AnnOutput.TopK(k, includeSelf) =>
            def kernel(ids: Array[Long], vecs: Array[Array[Double]]): Column =
              SparkBridge.column(TopKFunctions.CorpusTopK(pId, pVec, ids, vecs, k,
                includeSelf = includeSelf))
            // one chunk: the kernel's best-first array IS the answer
            // (zero exchanges); several: the disjoint chunks' rounded
            // winners k-merge through graft_top_k, ≤ probes × k × chunks
            // rows through the exchange
            if (parts.length == 1) ranked(probe, kernel(parts.head._1, parts.head._2))
            else rankTopK(parts.map { case (ids, vecs) =>
              probe.select(col("probe_id"), explode(kernel(ids, vecs)).as("e"))
                .select(col("probe_id"), col("e.cand_id").as("cand_id"), col("e.sim").as("sim"))
            }.reduce(_.union(_)), k)
          case AnnOutput.Pairs(threshold, allPairs) =>
            // emitGreater: the row is the probe, emitted ids are the
            // candidates above it — the pair contract from the other
            // side; disjoint candidate chunks union with no merge
            parts.map { case (ids, vecs) =>
              probe.select(col("probe_id"), explode(SparkBridge.column(TopKFunctions.ProbeMatches(
                pId, pVec, ids, vecs, threshold, emitGreater = true, emitAll = allPairs)))
                .as("cand_id"))
            }.reduce(_.union(_))
              .select(col("probe_id").cast("long").as("probe_id"), col("cand_id"))
        }
      case AnnRegime.BothOver =>
        val bucket = bucketOf(source, dec, probes, probeVecCol, corpus, corpusVecCol)
        if (bucket.isEmpty && maxEmbeddedProbes > 0) enforceJoinContract(spark,
          if (out.isInstanceOf[AnnOutput.TopK]) "bruteForceTopK" else "embeddingNearDup",
          dec.effectiveCap)
        val probeSel = probes.select(col(probeIdCol).as("probe_id"), col(probeVecCol).as("probe_vec"))
        val probeSide = bucket.fold(probeSel)(b => probeSel.withColumn(b.name, b.probeKey))
          .withColumn("probe_norm", VectorFunctions.norm2(spark, col("probe_vec")))
        val candSel = scanned(corpus, corpusIdCol, corpusVecCol, "cand")
        val candSide = bucket.fold(candSel)(b => candSel.withColumn(b.name, b.candKey))
          .withColumn("cand_norm", VectorFunctions.norm2(spark, col("cand_vec")))
        val pairCond = out match {
          case AnnOutput.TopK(_, includeSelf) =>
            Option.when(!includeSelf)(col("probe_id") =!= col("cand_id"))
          case AnnOutput.Pairs(_, allPairs) =>
            Option.when(!allPairs)(col("probe_id") < col("cand_id"))
        }
        // null ids never pair, as in the kernels: a pair condition drops
        // them implicitly, so without one they are filtered explicitly
        val joined = bucket match {
          case None => pairCond.fold(
            candSide.where(col("cand_id").isNotNull)
              .crossJoin(probeSide.where(col("probe_id").isNotNull)))(
            candSide.join(probeSide, _))
          case Some(b) =>
            saltedBucketJoin(candSide, probeSide, b.name, bucketSalt(spark, b.nKeys))
              .where(pairCond.getOrElse(col("probe_id").isNotNull && col("cand_id").isNotNull))
        }
        val cos = splitCosine(spark, col("probe_vec"), col("cand_vec"),
          col("probe_norm"), col("cand_norm"))
        out match {
          case AnnOutput.TopK(k, _) => rankTopK(joined.withColumn("sim", round(cos, 6)), k)
          case AnnOutput.Pairs(threshold, _) =>
            joined.where(cos > threshold).select(
              col("probe_id").cast("long").as("probe_id"), col("cand_id").cast("long").as("cand_id"))
        }
    }
  }

  /** Exact top-k of a probe SUBSET of `emb` against all of `emb`: the
    * single-frame form of [[bruteForceTopKFrames]]. Probes ⊆ corpus, so
    * the role swap never fires from here (a probe set too big to
    * collect implies a corpus too big to collect).
    */
  def bruteForceTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      probeFilter: Column,
      k: Int,
      maxEmbeddedProbes: Int = 1 << 16,
      maxChunkedProbes: Int = 1 << 20,
      maxCollectBytes: Long = 512L << 20,
      dims: Option[Int] = None): DataFrame =
    bruteForceTopKFrames(
      emb.where(probeFilter).select(col(idCol), col(vecCol)), idCol, vecCol,
      emb, idCol, vecCol, k, maxEmbeddedProbes, maxChunkedProbes,
      maxCollectBytes, dims = dims)

  /** Exact top-k, probes and corpus as SEPARATE frames (a query set
    * against a corpus): the all-pairs source with all three regimes of
    * the object scaladoc — probe kernels, role swap, and the fail-fast
    * non-equi join. Output (probe_id, rank, cand_id, sim), probe_id ≠
    * cand_id unless `includeSelf` (cross-corpus id spaces).
    */
  def bruteForceTopKFrames(
      probes: DataFrame,
      probeIdCol: String,
      probeVecCol: String,
      corpus: DataFrame,
      corpusIdCol: String,
      corpusVecCol: String,
      k: Int,
      maxEmbeddedProbes: Int = 1 << 16,
      maxChunkedProbes: Int = 1 << 20,
      maxCollectBytes: Long = 512L << 20,
      includeSelf: Boolean = false,
      dims: Option[Int] = None): DataFrame =
    annSearch(CandidateSource.AllPairs, AnnOutput.TopK(k, includeSelf),
      probes, probeIdCol, probeVecCol, corpus, corpusIdCol, corpusVecCol,
      maxEmbeddedProbes, maxChunkedProbes, maxCollectBytes, dims)

  /** IVF top-k over a single frame (probes a filtered subset of `emb`):
    * the single-frame form of [[ivfTopKFrames]].
    */
  def ivfTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      probeFilter: Column,
      k: Int,
      nCentroids: Int = 16,
      nProbe: Int = 4,
      trainedCentroids: Option[Array[Seq[Double]]] = None,
      maxEmbeddedProbes: Int = 1 << 16,
      maxChunkedProbes: Int = 1 << 20,
      maxCollectBytes: Long = 512L << 20,
      dims: Option[Int] = None): DataFrame =
    ivfTopKFrames(
      emb.where(probeFilter).select(col(idCol), col(vecCol)), idCol, vecCol,
      emb, idCol, vecCol, k, nCentroids, nProbe, trainedCentroids,
      maxEmbeddedProbes, maxChunkedProbes, maxCollectBytes, dims = dims)

  /** IVF top-k, probes and corpus as SEPARATE frames: a coarse
    * quantizer — the first `nCentroids` CORPUS vectors by id, or
    * `trainedCentroids` (e.g. Clustering.kmeansCentroids) — puts each
    * corpus row in the inverted list of its nearest centroid, and a
    * probe searches only its `nProbe` nearest lists. Unlike LSH, list
    * sizes adapt to the data; recall is tuned by `nProbe`. The
    * centroids are collected (metadata-scale) before the regime
    * decision and embed as literals; over the caps the inverted-list
    * bucket equi-join runs (object scaladoc).
    */
  def ivfTopKFrames(
      probes: DataFrame,
      probeIdCol: String,
      probeVecCol: String,
      corpus: DataFrame,
      corpusIdCol: String,
      corpusVecCol: String,
      k: Int,
      nCentroids: Int = 16,
      nProbe: Int = 4,
      trainedCentroids: Option[Array[Seq[Double]]] = None,
      maxEmbeddedProbes: Int = 1 << 16,
      maxChunkedProbes: Int = 1 << 20,
      maxCollectBytes: Long = 512L << 20,
      includeSelf: Boolean = false,
      dims: Option[Int] = None): DataFrame = {
    val centroids = trainedCentroids.getOrElse(
      corpus.orderBy(col(corpusIdCol)).limit(nCentroids)
        .select(col(corpusVecCol).cast("array<double>")).collect()
        .map(_.getSeq[Double](0)))
    annSearch(CandidateSource.Ivf(centroids, nProbe), AnnOutput.TopK(k, includeSelf),
      probes, probeIdCol, probeVecCol, corpus, corpusIdCol, corpusVecCol,
      maxEmbeddedProbes, maxChunkedProbes, maxCollectBytes, dims)
  }

  /** LSH top-k over a single frame (probes a filtered subset of `emb`):
    * the single-frame form of [[lshTopKFrames]].
    */
  def lshTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      probeFilter: Column,
      k: Int,
      planes: Int = 12,
      maxEmbeddedProbes: Int = 1 << 16,
      maxChunkedProbes: Int = 1 << 20,
      maxCollectBytes: Long = 512L << 20,
      dims: Option[Int] = None): DataFrame =
    lshTopKFrames(
      emb.where(probeFilter).select(col(idCol), col(vecCol)), idCol, vecCol,
      emb, idCol, vecCol, k, planes, maxEmbeddedProbes, maxChunkedProbes,
      maxCollectBytes, dims = dims)

  /** LSH top-k, probes and corpus as SEPARATE frames: exact rank within
    * the probe's random-hyperplane signature bucket (`planes` sign bits
    * against deterministic hyperplanes; recall < 1 by design). In the
    * kernel regimes the signature index lives inside the kernel (no
    * signature column, no joined rows); over the caps the signature
    * bucket equi-join runs (object scaladoc).
    */
  def lshTopKFrames(
      probes: DataFrame,
      probeIdCol: String,
      probeVecCol: String,
      corpus: DataFrame,
      corpusIdCol: String,
      corpusVecCol: String,
      k: Int,
      planes: Int = 12,
      maxEmbeddedProbes: Int = 1 << 16,
      maxChunkedProbes: Int = 1 << 20,
      maxCollectBytes: Long = 512L << 20,
      includeSelf: Boolean = false,
      dims: Option[Int] = None): DataFrame = {
    require(planes >= 1 && planes <= 63, s"planes must be in [1, 63], got $planes")
    annSearch(CandidateSource.Lsh(planes), AnnOutput.TopK(k, includeSelf),
      probes, probeIdCol, probeVecCol, corpus, corpusIdCol, corpusVecCol,
      maxEmbeddedProbes, maxChunkedProbes, maxCollectBytes, dims)
  }
}
