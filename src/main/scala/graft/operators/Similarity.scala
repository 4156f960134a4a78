package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{VectorFunctions => V}

/**
 * Approximate-nearest-neighbor search over an embedding column.
 *
 *  - [[bruteForceTopK]]: exact cosine top-k — broadcast the (small) query
 *    set against the corpus, rank per query. The right baseline, and the
 *    correct plan whenever |queries| is broadcastable: corpus is scanned
 *    once, no shuffle of the corpus, top-k via window over (query, cos).
 *  - [[lshTopK]]: the scale path — sign-bit LSH buckets (multi-probe)
 *    restrict each query to its buckets' candidates, so the per-query cost
 *    is bucket-sized, not corpus-sized. At 100 TB the corpus is bucketed
 *    once (write-time partitioning by bucket) and queries shuffle to their
 *    buckets — an IVF-style inverted-file layout expressed in Spark.
 *  - [[ivfTopK]]: the same inverted-file idea with a data-dependent
 *    coarse quantizer (centroid lists) instead of data-independent
 *    hyperplanes — better list balance on clustered corpora.
 */
object Similarity {

  /** Shared nlist ceiling for [[adaptiveIvfConfig]] and
    * [[ivfStoreAdvice]]'s recommendation — keeping them equal is what
    * makes the retrain advisory CONVERGENT (an adaptive rebuild always
    * satisfies the advisor that triggered it). */
  val DefaultMaxNlist: Int = 1024

  /**
   * Scale-adaptive IVF configuration — the √N discipline. A FIXED
   * (nlist, nprobe) is silently data-size-dependent: grow the corpus
   * 10× under the same 8 lists and each list is 10× bigger, the coarse
   * quantizer can no longer separate the new structure, and recall
   * decays with NO error anywhere (measured: q108's fixed config
   * passes its recall bound at sf0.01 and fails it at sf1 — SCALING.md
   * §round-7). The standard discipline:
   *
   *  - `nlist ≈ √N` — balances quantizer cost (nlist centroid dots per
   *    assignment) against list-scan cost (N/nlist items per probed
   *    list); both grow as √N, the minimum of their sum.
   *  - `nprobe = ceil(probeFrac · nlist)` — the PROBED SHARE of the
   *    corpus (what recall actually tracks) stays constant as the
   *    corpus grows, instead of shrinking the way a fixed nprobe over
   *    a growing nlist would.
   *
   * `maxNlist` caps the plan: centroids ship as plan-time literals
   * inside one codegen'd expression (the zero-shuffle assignment), so
   * very large nlist inflates generated code. Past the cap, lists grow
   * linearly again — at that corpus size, shard the store build.
   *
   * The per-query operators and [[buildIvfStore]] accept `nlist = 0` /
   * `nprobe = 0` to mean "derive from the corpus via this function";
   * [[ivfStoreAdvice]] applies the same discipline to a LIVE store,
   * flagging when growth has carried it away from its build-time
   * configuration (the retrain trigger).
   */
  def adaptiveIvfConfig(n: Long, probeFrac: Double = 0.375,
      maxNlist: Int = DefaultMaxNlist): (Int, Int) = {
    require(n > 0, s"adaptiveIvfConfig needs a non-empty corpus, got n=$n")
    require(probeFrac > 0 && probeFrac <= 1,
      s"probeFrac must be in (0, 1], got $probeFrac")
    val nlist = math.max(1L, math.min(
      math.round(math.sqrt(n.toDouble)), maxNlist.toLong)).toInt
    val nprobe = math.max(1, math.ceil(nlist * probeFrac).toInt)
    (nlist, nprobe)
  }

  /**
   * Scale-adaptive ADC shortlist size — the PQ-family companion to
   * [[adaptiveIvfConfig]]: `candN = max(4k, probedCandidates / 25)`,
   * where probedCandidates = n · nprobe / nlist. ADC approx scores are
   * true cosines plus quantization noise; as the probed pool grows,
   * a CONSTANT candN is overtaken by the noise's order statistics and
   * true neighbors stop surviving to the exact re-rank (the q108 sf1
   * recall failure, measured). Keeping a constant FRACTION (1/25,
   * anchored so the long-verified sf0.01 config is reproduced by the
   * floor) of the probed pool makes shortlist recall scale-invariant
   * while still bounding full-vector reads to 4% of the probed codes —
   * the ADC scan-IO story survives intact.
   */
  def adaptivePqCandN(n: Long, nlist: Int, nprobe: Int, k: Int): Int = {
    require(n > 0 && nlist > 0 && nprobe > 0 && k > 0,
      s"adaptivePqCandN needs positive inputs: n=$n nlist=$nlist " +
        s"nprobe=$nprobe k=$k")
    val probed = n.toDouble * math.min(nprobe, nlist) / nlist
    math.max(4 * k, math.ceil(probed / 25.0).toInt)
  }

  /** Resolve an entry point's (nlist, nprobe) knobs: 0 = adaptive.
    * The corpus count is one bounded action, paid only when a knob is
    * auto — explicit configs never scan. */
  private def resolveIvfConfig(corpus: DataFrame, nlist: Int,
      nprobe: Int): (Int, Int) =
    if (nlist > 0 && nprobe > 0) (nlist, nprobe)
    else {
      val (autoList, autoProbe) = adaptiveIvfConfig(corpus.count())
      (if (nlist > 0) nlist else autoList,
        if (nprobe > 0) nprobe
        else if (nlist > 0) math.max(1, math.ceil(nlist * 0.375).toInt)
        else autoProbe)
    }

  /** (id, unit-normalized vector) — ONE codegen'd node
    * ([[graft.functions.VectorFunctions.unitVec]]): every downstream
    * expression referencing the vector (assignment, PQ codes, dots)
    * pays an attribute read, never an interpreted re-normalization. */
  private[operators] def unitVecs(df: DataFrame, idName: String, vecName: String): DataFrame =
    df.select(col("vec_id").as(idName), V.unitVec(col("embedding")).as(vecName))

  /** [[unitVecs]] with a LOUD dimension guard for the PQ family: a
    * vector whose length differs from the configured `dim` would
    * otherwise slice past its end — empty subspace slices dot to 0,
    * so every code degenerates to the same argmin and rankings are
    * silently meaningless (the lshBucketPlanes review-finding class,
    * which fails loudly for the same reason). */
  private def unitVecsDim(df: DataFrame, idName: String, vecName: String,
      dim: Int, who: String): DataFrame =
    unitVecs(df, idName, vecName).withColumn(vecName,
      when(size(col(vecName)) === dim, col(vecName))
        .otherwise(raise_error(concat(
          lit(s"$who: configured dim $dim != vector dim "),
          size(col(vecName)).cast("string")))))

  /** Per-query top-k re-rank of a scored candidate set, via the engine's
    * whole-operator TopKPerGroup (bounded heap per query — never a full
    * sort of a query's candidate list; row_number-identical ranks, so
    * the oracle stays the window form). */
  private def topKRerank(scored: DataFrame, k: Int): DataFrame =
    TopK.perGroup(scored, Seq("query_id"),
        Seq(("cos", false), ("item_id", true)), k, "rank")
      .select(col("query_id"), col("item_id"),
        round(col("cos"), 4).as("cos"), col("rank"))

  /** Exact top-k by cosine: one corpus scan, queries broadcast; cosine =
    * one dot product over pre-normalized vectors. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = unitVecs(corpus, "item_id", "item_vec")
    val q = unitVecs(queries, "query_id", "query_vec")
    val scored = c.join(broadcast(q))
      .select(col("query_id"), col("item_id"),
        V.dot(col("query_vec"), col("item_vec")).as("cos"))
      .filter(col("query_id") =!= col("item_id"))
    topKRerank(scored, k)
  }

  /**
   * IVF-style ANN: a deterministic coarse quantizer (the `nlist`
   * hash-first corpus vectors, picked by a distributed top-k scan — no
   * shuffle) partitions the corpus into inverted lists; each query probes
   * its `nprobe` nearest centroids and re-ranks exactly within those
   * lists only, so recall/cost is tunable by nprobe/nlist.
   *
   * Scale shape: the centers are the one legitimate driver collect
   * (bounded: nlist × dim doubles — the k-means pattern) and ship to
   * every task as literals, making list assignment a pure codegen'd map
   * over the corpus with ZERO shuffle; at 100 TB the assignment is a
   * write-time `partitionBy(list_id)` so a query touches nprobe/nlist of
   * the data. Each item lands in exactly one list, so probe fan-out
   * never duplicates a (query, item) candidate — no dedup stage (unlike
   * multi-table LSH).
   */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    val c = unitVecs(corpus, "item_id", "item_vec")
    val q = unitVecs(queries, "query_id", "query_vec")
    val (nl, np) = resolveIvfConfig(corpus, nlist, nprobe)
    ivfSearch(c, q, hashPickCentroids(c, nl), k, np)
  }

  /** Deterministic "hash-first" centroid pick, keyed by md5 of the id so
    * the DuckDB oracle selects the identical nlist centroids in the
    * identical list order (md5 hex sorts the same in both engines). */
  private[operators] def hashPickCentroids(c: DataFrame, nlist: Int): Seq[(Int, Seq[Double])] =
    c.orderBy(md5(col("item_id").cast("string")), col("item_id"))
      .limit(nlist)
      .select(col("item_vec")).collect()
      .toSeq.zipWithIndex.map { case (r, i) => (i, r.getSeq[Double](0)) }

  /** md5-picked PQ sub-codebooks: books(j)(code) = the code-th seed
    * vector's j-th subspace slice (the deterministic init/fallback the
    * trained path refines). */
  private def sliceBooks(seeds: Seq[Seq[Double]], m: Int,
      subdim: Int): Seq[Seq[Seq[Double]]] =
    (0 until m).map(j => seeds.map(_.slice(j * subdim, (j + 1) * subdim)))

  /** Past this many centroids the per-centroid literal form stops being
    * "codegen'd": the generated projection inlines one dot-product loop
    * PER centroid, blowing through the JIT/Janino method budgets into
    * splits and interpreted fallback — measured at sf1 (nlist = 141
    * from the adaptive √N config): ~7 s PER assignment scan of a 20k
    * corpus, i.e. the whole trained-ANN cost was expression-form
    * overhead, not flops. The matrix form below is one Literal node +
    * an indexed `transform`: the lambda runs interpreted, but each
    * element is a single custom-Expression dot (tight eval loop), so
    * cost returns to O(n·nlist·dim) arithmetic. The literal form stays
    * for small nlist where it whole-stage-compiles and wins. */
  private val CentScoresLiteralMax = 32

  /** (cos-to-centroid, list_id) per centroid; array_max = argmax by cos
    * (list_id tiebreak) — struct comparison is field-ordered. Centroids
    * ship as literals (small nlist: per-centroid codegen'd expressions;
    * large nlist: ONE 2-D array literal walked by an indexed HOF), so
    * assignment is a pure map either way: ZERO shuffle. The large form
    * is for QUERY-side consumers (probe ordering over few rows) —
    * corpus-side assignment goes through [[assignList]]'s native
    * kernel, which the optimizer can clone freely. */
  private[operators] def centScores(centers: Seq[(Int, Seq[Double])], vec: Column): Column =
    if (centers.size <= CentScoresLiteralMax)
      array(centers.map { case (lid, cv) =>
        struct(V.dot(vec, typedlit(cv)).as("d"), lit(lid).as("lid")) }: _*)
    else {
      val mat = typedlit(centers.map(_._2))
      val lids = typedlit(centers.map(_._1))
      transform(mat, (cv, i) =>
        struct(V.dot(vec, cv).as("d"),
          element_at(lids, i + 1).as("lid")))
    }

  /** Argmax list id for a corpus vector — the HOT assignment column,
    * evaluated once per corpus row in every build/append/train/search
    * scan AND re-derived by optimizer clones (join-key null filters).
    * Small nlist keeps the whole-stage-codegen'd literal argmax; large
    * nlist uses the native [[graft.functions.expressions.ArgmaxDot]]
    * kernel (identical tie semantics: equal dots → larger lid), which
    * needs lids to be POSITIONAL — true of every quantizer here
    * ([[hashPickCentroids]] zipWithIndex, [[readCentroids]] re-index,
    * [[trainCentroids]] preserves), guarded loudly. */
  private[operators] def assignList(centers: Seq[(Int, Seq[Double])],
      vec: Column): Column =
    if (centers.size <= CentScoresLiteralMax)
      array_max(centScores(centers, vec)).getField("lid")
    else {
      require(centers.zipWithIndex.forall { case ((lid, _), i) => lid == i },
        "assignList requires positional list ids (lid == index)")
      graft.functions.GraftFunctions.graftArgmaxDot(vec,
        typedlit(centers.map(_._2)))
    }

  /** The shared IVF tail: argmax list assignment, nprobe probing, exact
    * re-rank within the probed lists only. */
  private def ivfSearch(c: DataFrame, q: DataFrame,
      centers: Seq[(Int, Seq[Double])], k: Int, nprobe: Int): DataFrame = {
    val assigned = c.withColumn("list_id",
      assignList(centers, col("item_vec")))
    val probes = q.select(col("query_id"), col("query_vec"),
        explode(slice(reverse(array_sort(centScores(centers, col("query_vec")))), 1, nprobe))
          .as("probe"))
      .select(col("query_id"), col("query_vec"), col("probe.lid").as("list_id"))
    val cand = assigned.join(broadcast(probes), Seq("list_id"))
      .filter(col("query_id") =!= col("item_id"))
      .select(col("query_id"), col("item_id"),
        V.dot(col("query_vec"), col("item_vec")).as("cos"))
    topKRerank(cand, k)
  }

  /**
   * Spherical k-means (Lloyd) refinement of the coarse quantizer —
   * round-1 gap: hash-picked centroids give poor list balance on
   * clustered real corpora. Each iteration is one zero-shuffle
   * assignment map + one (list, dim)-keyed sum aggregate whose result —
   * nlist × dim rows — is the same bounded driver collect as the
   * initial pick (the k-means pattern); means are renormalized to unit
   * length (cosine geometry), and empty lists keep their centroid.
   */
  private[graft] def trainCentroids(c: DataFrame, init: Seq[(Int, Seq[Double])],
      iters: Int): Seq[(Int, Seq[Double])] = {
    var centers = init
    for (_ <- 0 until iters) {
      val sums = c
        .withColumn("list_id",
          assignList(centers, col("item_vec")))
        .select(col("list_id"), posexplode(col("item_vec")).as(Seq("d", "x")))
        .groupBy("list_id", "d").agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
        .collect()
      val byList = sums.groupBy(_.getInt(0))
      centers = centers.map { case (lid, old) =>
        byList.get(lid).fold((lid, old)) { rows =>
          val mean = new Array[Double](old.size)
          rows.foreach(r => mean(r.getInt(1)) = r.getDouble(2) / r.getLong(3))
          val nrm = math.sqrt(mean.map(x => x * x).sum)
          if (nrm > 0) (lid, mean.map(_ / nrm).toSeq) else (lid, old)
        }
      }
    }
    centers
  }

  /** IVF with the TRAINED coarse quantizer: k-means-refined centroids
    * (deterministic md5-picked init), then the same search tail. */
  def ivfTopKTrained(corpus: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 4, iters: Int = 3): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val (nl, np) = resolveIvfConfig(corpus, nlist, nprobe)
    // persisted across the training actions ONLY (one scan per Lloyd
    // iteration + the centroid pick), and released as soon as training
    // returns — the operator owns the persist exactly while it runs
    // actions of its own, so no cached blocks outlive the call (round-2
    // advice: an unreleased operator persist leaks across calls in a
    // long-lived session). The lazy search tail recomputes unitVecs —
    // a deterministic columnar projection, two cheap scans.
    val c = unitVecs(corpus, "item_id", "item_vec")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val q = unitVecs(queries, "query_id", "query_vec")
    val centers =
      try trainCentroids(c, hashPickCentroids(c, nl), iters)
      finally c.unpersist(blocking = false)
    ivfSearch(unitVecs(corpus, "item_id", "item_vec"), q, centers, k, np)
  }

  /**
   * Product-quantization ANN with an ADC (asymmetric distance
   * computation) scan — the 100 TB embedding-store shape: the corpus
   * is stored as `m` small codes per vector (here 4 bytes vs 512 for
   * dim=64 doubles, a 128× scan-IO reduction), queries precompute one
   * `m × ksub` dot-product table, and scoring an item is `m` array
   * lookups + adds instead of a dim-wide dot. The approximate top
   * `candN` per query then re-rank EXACTLY on the real vectors, so
   * the code path touches full vectors only for candN rows per query.
   * (Composing this with [[ivfTopK]]'s inverted lists — probe, then
   * ADC within the probed lists — is the classic IVF-PQ layout; the
   * pieces here are that composition's building blocks.)
   *
   * Determinism: codebooks are the md5-first `ksub` normalized corpus
   * vectors, sliced per subspace — the same bounded collect as
   * [[ivfTopK]]'s centroids, so a SQL oracle re-derives them and
   * replays encoding, table build, ADC scoring and both rankings
   * decision-for-decision (every float expression here is shaped to
   * be bit-reproducible: sequential-fold dots, left-associated adds,
   * plan-time `|c|²` literals).
   *
   * Encoding minimizes true L2 over each subspace: argmin_c |x−c|² =
   * argmin_c (|c|² − 2·x·c), the `|x|²` term being constant per slice.
   */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      m: Int = 4, ksub: Int = 8, candN: Int = 20, dim: Int = 64): DataFrame = {
    require(dim % m == 0, s"dim=$dim not divisible by m=$m")
    val subdim = dim / m
    val c = unitVecsDim(corpus, "item_id", "item_vec", dim, "pqTopK")
    val q = unitVecsDim(queries, "query_id", "query_vec", dim, "pqTopK")
    // books(j)(code) = codeword vector for subspace j
    val seeds = hashPickCentroids(c, ksub).map(_._2)
    require(seeds.nonEmpty, "empty corpus")
    pqSearch(c, q, sliceBooks(seeds, m, subdim), k, candN, subdim)
  }

  /** [[pqTopK]] with TRAINED codebooks: per-subspace L2 k-means (Lloyd)
    * from the md5-picked init — round-3 gap: md5-picked sub-codebooks
    * are corpus-vector slices, which systematically inflate ADC
    * distances on clustered corpora; k-means moves each codeword to its
    * cell mean, the distortion-minimizing position (SimilaritySpec
    * measures the drop). Same bounded-collect training pattern as
    * [[trainCentroids]], one corpus scan per iteration, and the same
    * search tail — the trained books are still plan-time literals. */
  def pqTopKTrained(corpus: DataFrame, queries: DataFrame, k: Int,
      m: Int = 4, ksub: Int = 8, candN: Int = 20, dim: Int = 64,
      iters: Int = 3): DataFrame = {
    require(dim % m == 0, s"dim=$dim not divisible by m=$m")
    val subdim = dim / m
    import org.apache.spark.storage.StorageLevel
    // persisted across training actions only, released before search —
    // the ivfTopKTrained persist-lifecycle discipline
    val c = unitVecsDim(corpus, "item_id", "item_vec", dim, "pqTopKTrained")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val q = unitVecsDim(queries, "query_id", "query_vec", dim, "pqTopKTrained")
    val books =
      try {
        val seeds = hashPickCentroids(c, ksub).map(_._2)
        require(seeds.nonEmpty, "empty corpus")
        trainBooks(c, sliceBooks(seeds, m, subdim), iters, subdim)
      } finally c.unpersist(blocking = false)
    pqSearch(unitVecsDim(corpus, "item_id", "item_vec", dim, "pqTopKTrained"),
      q, books, k, candN, subdim)
  }

  /**
   * IVF-PQ: the classic 100 TB ANN layout — [[ivfTopK]]'s inverted
   * lists compose with [[pqTopK]]'s ADC scan. The corpus is stored as
   * (list_id, m codes) — one zero-shuffle projection computes BOTH the
   * coarse assignment and the PQ codes; a query probes its `nprobe`
   * nearest lists and ADC-scores ONLY those lists' codes (cost =
   * nprobe/nlist of the corpus × m byte-lookups per item), then the
   * `candN` shortlist re-ranks exactly on real vectors. At 100 TB the
   * encoded table is written `partitionBy(list_id)` so a probe is a
   * partition-pruned scan of codes — full vectors are touched only for
   * candN rows per query (same two-tier storage story as
   * [[ivfTopK]]/[[pqTopK]], now stacked).
   *
   * `iters > 0` trains both quantizers (spherical k-means centers,
   * per-subspace L2 k-means books) — the production configuration;
   * `iters = 0` keeps the md5-picked deterministic form.
   */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 4, m: Int = 4, ksub: Int = 8,
      candN: Int = 20, dim: Int = 64, iters: Int = 0): DataFrame = {
    require(dim % m == 0, s"dim=$dim not divisible by m=$m")
    val subdim = dim / m
    import org.apache.spark.storage.StorageLevel
    // one count serves every auto knob (explicit configs never scan)
    lazy val n = corpus.count()
    val (nl, np) =
      if (nlist > 0 && nprobe > 0) (nlist, nprobe)
      else {
        val (al, ap) = adaptiveIvfConfig(n)
        (if (nlist > 0) nlist else al,
          if (nprobe > 0) nprobe
          else if (nlist > 0) math.max(1, math.ceil(nlist * 0.375).toInt)
          else ap)
      }
    val cN = if (candN > 0) candN else adaptivePqCandN(n, nl, np, k)
    val q = unitVecsDim(queries, "query_id", "query_vec", dim, "ivfPqTopK")
    // both quantizers derive from the same bounded collects; when
    // training, the persist spans the training actions only (the
    // ivfTopKTrained/pqTopKTrained lifecycle discipline)
    val (centers, books) =
      if (iters > 0) {
        val cp = unitVecs(corpus, "item_id", "item_vec")
          .persist(StorageLevel.MEMORY_AND_DISK)
        try {
          // ONE md5-ordered top-k collect serves both quantizers: the
          // first nlist/ksub rows of the same ordering are prefixes of
          // each other, so slicing ≡ two independent picks
          val picked = hashPickCentroids(cp, math.max(nl, ksub))
          val cs = trainCentroids(cp, picked.take(nl), iters)
          val seeds = picked.take(ksub).map(_._2)
          (cs, trainBooks(cp, sliceBooks(seeds, m, subdim), iters, subdim))
        } finally cp.unpersist(blocking = false)
      } else {
        val c0 = unitVecs(corpus, "item_id", "item_vec")
        val picked = hashPickCentroids(c0, math.max(nl, ksub))
        (picked.take(nl),
          sliceBooks(picked.take(ksub).map(_._2), m, subdim))
      }
    val c = unitVecsDim(corpus, "item_id", "item_vec", dim, "ivfPqTopK")
    // ONE projection: coarse list + m codes — this is the stored table
    val encoded = c.select(col("item_id") +:
      assignList(centers, col("item_vec")).as("list_id") +:
      (0 until m).map(j => pqCode(books, j, col("item_vec"), subdim).as(s"code$j")): _*)
    // query side: nprobe probes + the ADC tables, broadcast together
    val probes = q.select(col("query_id") +: col("query_vec") +:
      explode(slice(reverse(array_sort(centScores(centers, col("query_vec")))), 1, np))
        .as("probe") +:
      (0 until m).map(j => array(books(j).map(cw =>
        V.dot(slice(col("query_vec"), j * subdim + 1, subdim), typedlit(cw))): _*)
        .as(s"qtab$j")): _*)
      .select(col("query_id") +: col("probe.lid").as("list_id") +:
        (0 until m).map(j => col(s"qtab$j")): _*)
    // ADC only within the probed lists; one item sits in exactly one
    // list, so probe fan-out never duplicates a (query, item) pair
    val cand = encoded.join(broadcast(probes), Seq("list_id"))
      .filter(col("query_id") =!= col("item_id"))
      .select(col("query_id"), col("item_id"), adcApprox(m).as("approx"))
    adcRank(cand, c, q, Seq("item_id"), k, cN)
  }

  /** argmin-code of subspace j under `books`: argmin_c |x_j − c|² =
    * argmin_c (|c|² − 2·x_j·c) via struct-compare; |c|² is a plan-time
    * sequential fold — ZERO shuffle, codegen'd. */
  private def pqCode(books: Seq[Seq[Seq[Double]]], j: Int, vec: Column,
      subdim: Int): Column =
    array_min(array(books(j).zipWithIndex.map { case (cw, ci) =>
      val cc = cw.map(x => x * x).sum // plan-time |c|², sequential fold
      struct((lit(cc) - lit(2.0) * V.dot(slice(vec, j * subdim + 1, subdim),
        typedlit(cw))).as("d"), lit(ci).as("c"))
    }: _*)).getField("c")

  /** Per-subspace Lloyd iterations: ONE corpus scan per round covers
    * ALL m subspaces (each vector explodes into its m (subspace, code,
    * component) assignments), the per-cell component sums come back as
    * one bounded collect (m × ksub × subdim rows — the k-means
    * pattern), and each codeword moves to its cell mean (no
    * renormalization: PQ is L2 geometry, unlike [[trainCentroids]]'s
    * spherical means). Empty cells keep their codeword. */
  private[graft] def trainBooks(c: DataFrame, init: Seq[Seq[Seq[Double]]],
      iters: Int, subdim: Int): Seq[Seq[Seq[Double]]] = {
    val m = init.size
    var books = init
    for (_ <- 0 until iters) {
      val cells = c
        .select(explode(array((0 until m).map { j =>
          struct(lit(j).as("j"),
            slice(col("item_vec"), j * subdim + 1, subdim).as("sv"),
            pqCode(books, j, col("item_vec"), subdim).as("code"))
        }: _*)).as("e"))
        .select(col("e.j"), col("e.code"), posexplode(col("e.sv")).as(Seq("d", "x")))
        .groupBy("j", "code", "d")
        .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
        .collect()
      val byCell = cells.groupBy(r => (r.getInt(0), r.getInt(1)))
      books = books.zipWithIndex.map { case (book, j) =>
        book.zipWithIndex.map { case (cw, ci) =>
          byCell.get((j, ci)).fold(cw) { rows =>
            val mean = new Array[Double](subdim)
            rows.foreach(r => mean(r.getInt(2)) = r.getDouble(3) / r.getLong(4))
            mean.toSeq
          }
        }
      }
    }
    books
  }

  /** Mean squared PQ reconstruction error Σ_j |x_j − codeword(x_j)|²
    * over the corpus — the distortion k-means minimizes; exposed for
    * codebook-quality monitoring and the training test. */
  private[graft] def pqDistortion(c: DataFrame,
      books: Seq[Seq[Seq[Double]]], subdim: Int): Double = {
    val m = books.size
    val err = (0 until m).map { j =>
      val sq = books(j).zipWithIndex.map { case (cw, ci) =>
        val cc = cw.map(x => x * x).sum
        struct((lit(cc) - lit(2.0) * V.dot(slice(col("item_vec"),
          j * subdim + 1, subdim), typedlit(cw))).as("d"), lit(ci).as("c"))
      }
      // |x_j|² + min_c(|c|² − 2·x_j·c) = |x_j − c*|²
      V.dot(slice(col("item_vec"), j * subdim + 1, subdim),
        slice(col("item_vec"), j * subdim + 1, subdim)) +
        array_min(array(sq: _*)).getField("d")
    }.reduceLeft(_ + _)
    c.agg(avg(err)).head().getDouble(0)
  }

  /** ADC approximate score: m table lookups, left-associated adds —
    * the one expression all three ADC paths must share bit-for-bit. */
  private def adcApprox(m: Int): Column = (0 until m)
    .map(j => element_at(col(s"qtab$j"), col(s"code$j") + 1))
    .reduceLeft(_ + _)

  /** The shared tail after ADC candidate scoring: candN shortlist by
    * approximate score, exact cosine re-rank against `vecs` (joined on
    * `joinKeys`), final k-ranking with the canonical tiebreaks — ONE
    * implementation, so the three entry points ([[ivfPqTopK]],
    * [[pqTopK]] via [[pqSearch]], [[searchIvfStoreAdc]]) cannot drift
    * apart rank-for-rank (the identity SimilaritySpec and the
    * q103/q109 oracles assert). */
  private def adcRank(cand: DataFrame, vecs: DataFrame, q: DataFrame,
      joinKeys: Seq[String], k: Int, candN: Int): DataFrame =
    adcFinalRank(adcShortlistExact(cand, vecs, q, joinKeys, candN), k)

  /** The ADC shortlist + exact re-score, BEFORE the final k-ranking:
    * full-precision (query_id, item_id, approx, cos) rows — the merge
    * currency of the sharded search (per-shard shortlists union here,
    * then rank once globally). */
  private def adcShortlistExact(cand: DataFrame, vecs: DataFrame,
      q: DataFrame, joinKeys: Seq[String], candN: Int): DataFrame =
    TopK.perGroup(cand, Seq("query_id"),
        Seq(("approx", false), ("item_id", true)), candN, "cand_rank")
      .join(vecs, joinKeys)
      .join(broadcast(q), "query_id")
      .select(col("query_id"), col("item_id"), col("approx"),
        V.dot(col("query_vec"), col("item_vec")).as("cos"))

  /** Final exact-cosine k-ranking with the canonical tiebreaks and
    * output rounding — the one place the ADC family's result schema is
    * decided. */
  private def adcFinalRank(exact: DataFrame, k: Int): DataFrame =
    TopK.perGroup(exact, Seq("query_id"),
        Seq(("cos", false), ("item_id", true)), k, "rank")
      .select(col("query_id"), col("item_id"),
        round(col("approx"), 4).as("approx_pq"),
        round(col("cos"), 4).as("cos"), col("rank"))

  /** The shared PQ search tail: encode, ADC shortlist, exact re-rank. */
  private def pqSearch(c: DataFrame, q: DataFrame,
      books: Seq[Seq[Seq[Double]]], k: Int, candN: Int,
      subdim: Int): DataFrame = {
    val m = books.size
    def sub(vec: Column, j: Int): Column = slice(vec, j * subdim + 1, subdim)
    // codes ONLY cross the ADC join — never the vectors
    val encoded = c.select(col("item_id") +:
      (0 until m).map(j => pqCode(books, j, col("item_vec"), subdim).as(s"code$j")): _*)
    // query-side ADC tables: qtab_j[c] = q_j · books(j)(c)
    val qTabs = q.select(col("query_id") +: col("query_vec") +:
      (0 until m).map(j => array(books(j).map(cw =>
        V.dot(sub(col("query_vec"), j), typedlit(cw))): _*).as(s"qtab$j")): _*)
    val cand = encoded.join(broadcast(qTabs))
      .filter(col("query_id") =!= col("item_id"))
      .select(col("query_id"), col("item_id"), adcApprox(m).as("approx"))
    adcRank(cand, c, q, Seq("item_id"), k, candN)
  }

  /** ANN top-k: candidates limited to shared LSH buckets across `tables`
    * independent hash tables; exact cosine re-rank inside the candidates.
    *
    * The candidate-dedup exchange carries ONLY (query_id, item_id) —
    * vectors join back after the distinct (round-1 finding: the old
    * `groupBy.agg(first(vec))` shuffled dim-sized arrays per candidate;
    * this is the same distinct-ids-then-join shape as
    * [[Dedup.embeddingNearDup]]). Buckets hash the RAW vectors (sign
    * bits are scale-invariant). `portableDim > 0` uses plan-time
    * hyperplane literals so the oracle replays the bucketing. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      bits: Int = 6, tables: Int = 4, portableDim: Int = 0): DataFrame = {
    def buckets(df: DataFrame, idName: String): DataFrame = {
      val bucketExprs =
        if (portableDim > 0) (0 until tables).map(t =>
          V.lshBucketPlanes(col("embedding"),
            graft.functions.PortableHash.planes(977 + t, bits, portableDim)))
        else (0 until tables).map(t => V.lshBucket(col("embedding"), bits, seed = 977 + t))
      df.select(col("vec_id").as(idName),
        posexplode(array(bucketExprs: _*)).as(Seq("tbl", "bucket")))
    }
    val cand = buckets(corpus, "item_id")
      .join(broadcast(buckets(queries, "query_id")), Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("item_id"))
      .select("query_id", "item_id").distinct()
    val scored = cand
      .join(unitVecs(corpus, "item_id", "item_vec"), "item_id")
      .join(broadcast(unitVecs(queries, "query_id", "query_vec")), "query_id")
      .select(col("query_id"), col("item_id"),
        V.dot(col("query_vec"), col("item_vec")).as("cos"))
    topKRerank(scored, k)
  }

  // ---- Materialized IVF store (the on-disk 100 TB ANN layout) ----

  /**
   * Build the layout the per-query operators' scaladocs promise: the
   * corpus encoded once as (item_id, unit vector) written
   * `partitionBy(list_id)` under `<storeDir>/encoded`, with the
   * quantizer centroids alongside at `<storeDir>/centroids` — the
   * store is self-describing, so [[searchIvfStore]] and
   * [[appendToIvfStore]] never re-pick or re-train. `iters > 0` trains
   * the quantizer (spherical k-means) before encoding; the build is
   * the FingerprintIndex discipline applied to ANN: pay the scan once
   * at build time, then every query is partition-pruned.
   *
   * `nlist = 0` sizes the quantizer adaptively from the corpus
   * ([[adaptiveIvfConfig]]'s √N discipline) — the production default,
   * since a store built at one size and grown 10× under a fixed nlist
   * silently loses recall; [[ivfStoreAdvice]] watches the live store
   * for exactly that drift.
   */
  def buildIvfStore(corpus: DataFrame, storeDir: String, nlist: Int = 16,
      iters: Int = 0, m: Int = 0, ksub: Int = 8, dim: Int = 64): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    import org.apache.spark.storage.StorageLevel
    require(m == 0 || dim % m == 0, s"dim=$dim not divisible by m=$m")
    // a rebuild starts a fresh lifecycle: tombstones describe the OLD
    // corpus — left standing they would silently hide rebuilt rows
    // that happen to share ids (supersede-first clear: no partial
    // state can falsely tombstone a revived id)
    TombstoneLog.clear(spark, deletedPath(storeDir), "item_id")
    // same staleness logic for the location index: entries describe
    // the OLD corpus's assignments, and a non-superset index is the
    // one state lookups cannot absorb — drop FIRST (absent = full-scan
    // fallback), rebuild fresh after the encoded table lands
    AnnLocIndex.drop(spark, storeDir)
    val subdim = if (m > 0) dim / m else 0
    val nl = if (nlist > 0) nlist else adaptiveIvfConfig(corpus.count())._1
    // ONE md5-ordered pick serves both quantizers (prefix property —
    // the ivfPqTopK derivation, so store searches replay it exactly)
    val nPick = math.max(nl, if (m > 0) ksub else 0)
    val (centers, books) =
      if (iters > 0) {
        val cp = unitVecs(corpus, "item_id", "item_vec")
          .persist(StorageLevel.MEMORY_AND_DISK)
        try {
          val picked = hashPickCentroids(cp, nPick)
          val cs = trainCentroids(cp, picked.take(nl), iters)
          val bk = if (m > 0) trainBooks(cp,
            sliceBooks(picked.take(ksub).map(_._2), m, subdim), iters, subdim)
          else Nil
          (cs, bk)
        } finally cp.unpersist(blocking = false)
      } else {
        val picked = hashPickCentroids(
          unitVecs(corpus, "item_id", "item_vec"), nPick)
        (picked.take(nl),
          if (m > 0) sliceBooks(picked.take(ksub).map(_._2), m, subdim)
          else Nil)
      }
    writeEncoded(corpus, centers, storeDir, overwrite = true)
    if (m > 0) {
      // the 100 TB scan table: (item_id, m small codes), partitioned by
      // list — an ADC probe reads m bytes per item instead of the
      // dim-wide vector (the 128× scan-IO reduction ivfPqTopK promises,
      // now MATERIALIZED instead of recomputed per query)
      writeCodes(corpus, centers, books, subdim, storeDir,
        overwrite = true)
      books.zipWithIndex.flatMap { case (book, j) =>
        book.zipWithIndex.map { case (cw, ci) => (j, ci, cw) }
      }.toDF("j", "code", "cw").coalesce(1)
        .write.mode("overwrite").parquet(storeDir + "/books")
    }
    centers.toDF("lid", "cv").coalesce(1)
      .write.mode("overwrite").parquet(storeDir + "/centroids")
    // the id→list location index is NOT built here: creation is lazy,
    // at the first mutation ([[AnnLocIndex.ensure]]) — an eager build
    // taxed every construction with a corpus shuffle whether or not
    // the store would ever mutate. The drop above is the load-bearing
    // half (a stale index is the one state lookups cannot absorb).
  }

  /** Fold a day's new vectors into the store: assign and encode with
    * the STORED quantizers (no re-train — they are the store's
    * contract), append only the touched partitions' directories. When
    * the store carries a PQ code table, the day's codes append too.
    *
    * Re-delivery-safe per table: each write anti-joins the batch
    * against the item_ids ALREADY in that table, checking only the
    * batch's own list_id partitions (assignment is deterministic, so a
    * previously appended item can only live in the partition this
    * batch would route it to — the store side stays partition-pruned
    * at any store size). A crash between the encoded and codes writes
    * heals on re-run: the table that committed admits nothing, the
    * one that didn't gets exactly the missing rows — no double-append,
    * no permanent ADC recall hole.
    *
    * CONCURRENT READERS (r12 review of this seam): a search running
    * while an append commits sees an eventually-consistent corpus —
    * either without the batch, with it, or (between the encoded and
    * codes job commits) with the batch visible to exact searches but
    * not yet ADC ones. Never torn results: encoded writes BEFORE
    * codes, and the ADC path shortlists FROM codes and re-scores
    * against encoded, so an item can never rank without its full
    * vector being readable; in-flight task files live under
    * `_temporary` (hidden from readers) until the job commit. The
    * staleness window is one batch — the semantics streaming ANN
    * ingest wants, not a defect. */
  def appendToIvfStore(spark: SparkSession, newVecs: DataFrame,
      storeDir: String): Unit = {
    import org.apache.spark.storage.StorageLevel
    val centers = readCentroids(spark, storeDir)
    // takedown wins over late re-delivery: a tombstoned id never
    // re-enters through an append ([[deleteFromIvfStore]]); compact
    // first to genuinely re-add one
    val assigned = minusDeleted(spark,
        unitVecs(newVecs, "item_id", "item_vec"), storeDir, "item_id")
      .withColumn("list_id",
        assignList(centers, col("item_vec")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val touched = assigned.select("list_id").distinct()
        .collect().map(_.getInt(0)).toSeq // bounded by nlist
      val fs = new org.apache.hadoop.fs.Path(storeDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def fresh(table: String): DataFrame = {
        val path = storeDir + "/" + table
        if (!fs.exists(new org.apache.hadoop.fs.Path(path))) assigned
        else assigned.join(
          spark.read.parquet(path)
            .filter(col("list_id").isin(touched: _*)).select("item_id"),
          Seq("item_id"), "left_anti")
      }
      // the fresh set is written twice — to the location index FIRST,
      // then the encoded table (the AnnLocIndex superset invariant: a
      // death between the writes leaves a stale entry, absorbed; never
      // a missing one, unabsorbable) — and deliberately NOT
      // checkpointed: between the two writes nothing mutates the paths
      // its lineage reads (the cached batch + the encoded table's
      // pre-append listing; the loc write refreshes only loc/), so
      // both evaluations are identical by construction, and skipping
      // the checkpoint saves one driver job per append — at toy scale
      // the mutation floor IS job count (SCALING.md r14).
      def freshEnc = fresh("encoded")
        .select("item_id", "item_vec", "list_id")
      Seq("encoded", "codes").foreach(t =>
        ControlPlane.dropDeadJobOutput(spark, s"$storeDir/$t"))
      AnnLocIndex.append(spark,
        freshEnc.select("item_id", "list_id"), storeDir)
      freshEnc
        .write.mode("append").partitionBy("list_id")
        .parquet(storeDir + "/encoded")
      val booksPath = new org.apache.hadoop.fs.Path(storeDir + "/books")
      if (fs.exists(booksPath)) {
        val books = readBooks(spark, storeDir)
        val subdim = books.head.head.size
        fresh("codes")
          .select(col("item_id") +: col("list_id") +:
            books.indices.map(j =>
              pqCode(books, j, col("item_vec"), subdim).as(s"code$j")): _*)
          .write.mode("append").partitionBy("list_id")
          .parquet(storeDir + "/codes")
      }
    } finally assigned.unpersist(blocking = false)
  }

  /**
   * Search the store: each query probes its `nprobe` nearest stored
   * centroids; the union of probed lists is collected (bounded by
   * nlist — a handful of ints) and pushed as a STATIC `list_id IN`
   * partition filter, so only the probed directories are listed or
   * read (PartitionFilters plan-asserted in SimilaritySpec). Exact
   * re-rank within the probed lists — identical results to
   * [[ivfTopK]] over the same corpus/quantizer.
   */
  def searchIvfStore(spark: SparkSession, queries: DataFrame,
      storeDir: String, k: Int, nprobe: Int = 4): DataFrame =
    topKRerank(storeProbeCand(spark, queries, storeDir, nprobe), k)

  /** One store's probed, exactly-scored candidates at full precision
    * (query_id, item_id, cos) — [[searchIvfStore]] ranks these
    * directly; the sharded search unions them across shards first. */
  private def storeProbeCand(spark: SparkSession, queries: DataFrame,
      storeDir: String, nprobe: Int): DataFrame = {
    val centers = readCentroids(spark, storeDir)
    // nprobe = 0: the persisted calibration when fresh, else the
    // constant probed share derived from the STORED quantizer size
    val np = resolveStoreNprobe(spark, storeDir, nprobe, centers.size)
    val q = unitVecs(queries, "query_id", "query_vec")
    val probes = q.select(col("query_id"), col("query_vec"),
        explode(slice(reverse(array_sort(centScores(centers, col("query_vec")))), 1, np))
          .as("probe"))
      .select(col("query_id"), col("query_vec"), col("probe.lid").as("list_id"))
    // EXHAUSTIVE probe (np covers the whole quantizer — the routed
    // lifecycle searches do this): every query probes every list, so
    // the probed set is the center list itself — skip the per-store
    // distinct-collect job (one driver action per shard per search of
    // pure fixed floor, guide §1.2); partial probes still collect the
    // union (bounded by nlist)
    val probedLists =
      if (np >= centers.size) centers.map(_._1).sorted
      else probes.select("list_id").distinct()
        .collect().map(_.getInt(0)).toSeq
    minusDeleted(spark,
      spark.read.parquet(storeDir + "/encoded")
        .filter(col("list_id").isin(probedLists: _*)),
      storeDir, "item_id")
      .join(broadcast(probes), Seq("list_id"))
      .filter(col("query_id") =!= col("item_id"))
      .select(col("query_id"), col("item_id"),
        V.dot(col("query_vec"), col("item_vec")).as("cos"))
  }

  /**
   * ADC search over the materialized code table — the production probe
   * path: queries probe their `nprobe` nearest stored centroids, the
   * probed `list_id`s push down as a STATIC partition filter on the
   * CODE table (m small ints per item — the narrow scan), approximate
   * scores are `m` table lookups per item, and only the `candN`
   * shortlist per query touches the full-vector table (itself
   * partition-pruned to the same probed lists, since an item's
   * shortlist row carries its list). Identical results to [[ivfPqTopK]]
   * over the same corpus/quantizers (SimilaritySpec asserts
   * row-for-row) — but the per-query work no longer includes encoding
   * the corpus: that was paid ONCE at [[buildIvfStore]] time.
   */
  def searchIvfStoreAdc(spark: SparkSession, queries: DataFrame,
      storeDir: String, k: Int, nprobe: Int = 4,
      candN: Int = 20): DataFrame =
    adcFinalRank(
      storeAdcExact(spark, queries, storeDir, nprobe, candN, k), k)

  /** One store's ADC-shortlisted, exactly re-scored rows at full
    * precision — [[searchIvfStoreAdc]] ranks these directly; the
    * sharded ADC search unions them across shards first. */
  private def storeAdcExact(spark: SparkSession, queries: DataFrame,
      storeDir: String, nprobe: Int, candN: Int, k: Int): DataFrame = {
    val centers = readCentroids(spark, storeDir)
    val books = readBooks(spark, storeDir)
    val m = books.size
    val subdim = books.head.head.size
    // nprobe = 0: the persisted calibration when fresh, else the
    // constant probed share (see resolveStoreNprobe). For ADC the
    // calibrated curve bounds LIST recall — the shortlist re-rank can
    // only lose on top of it, never recover an unprobed list
    val np = resolveStoreNprobe(spark, storeDir, nprobe, centers.size)
    // candN = 0: adaptive shortlist — sized from the STORE's item count
    // (one narrow count over the encoded table), so a store grown by
    // appends keeps its shortlist recall without the caller retuning
    val cN = if (candN > 0) candN
      else adaptivePqCandN(
        spark.read.parquet(storeDir + "/encoded").count(),
        centers.size, np, k)
    val q = unitVecs(queries, "query_id", "query_vec")
    // nprobe probes + the per-query ADC tables, broadcast together —
    // the ivfPqTopK query side, replayed against stored quantizers
    val probes = q.select(col("query_id") +: col("query_vec") +:
        explode(slice(reverse(array_sort(centScores(centers, col("query_vec")))), 1, np))
          .as("probe") +:
        (0 until m).map(j => array(books(j).map(cw =>
          V.dot(slice(col("query_vec"), j * subdim + 1, subdim), typedlit(cw))): _*)
          .as(s"qtab$j")): _*)
      .select(col("query_id") +: col("probe.lid").as("list_id") +:
        (0 until m).map(j => col(s"qtab$j")): _*)
    // exhaustive probe skips the distinct-collect job — see
    // storeProbeCand
    val probedLists =
      if (np >= centers.size) centers.map(_._1).sorted
      else probes.select("list_id").distinct()
        .collect().map(_.getInt(0)).toSeq
    // tombstones excluded BEFORE the shortlist so a deleted item can
    // never consume a candN slot (nor rank, trivially)
    val cand = minusDeleted(spark,
      spark.read.parquet(storeDir + "/codes")
        .filter(col("list_id").isin(probedLists: _*)),
      storeDir, "item_id")
      .join(broadcast(probes), Seq("list_id"))
      .filter(col("query_id") =!= col("item_id"))
      .select(col("query_id"), col("item_id"), col("list_id"),
        adcApprox(m).as("approx"))
    val vecs = spark.read.parquet(storeDir + "/encoded")
      .filter(col("list_id").isin(probedLists: _*))
      .select("item_id", "list_id", "item_vec")
    adcShortlistExact(cand, vecs, q, Seq("item_id", "list_id"), cN)
  }

  /**
   * Measured recall-vs-cost calibration for a built IVF store — the
   * knob SCALING.md's round-9 note promised: instead of the constant
   * probed share (`probeFrac = 0.375`, recall-safe but linear-cost in
   * corpus size), measure the recall@k each nprobe actually achieves
   * on THIS store and THIS query distribution, and probe no deeper
   * than the target demands.
   *
   * One exhaustive pass yields the WHOLE curve: ground-truth top-k per
   * sampled query comes from an exact scan over the store's vectors
   * (each true neighbor carries its stored `list_id`), and each true
   * neighbor's `probe_rank` — the 1-based position of its list in the
   * query's descending centroid ordering — decides the smallest nprobe
   * that would have found it. recall(p) is then a cumulative count
   * over probe_rank ≤ p, computed for every p in 1..nlist from the one
   * pass; no per-candidate re-search.
   *
   * Returns (smallest nprobe whose measured recall ≥ `targetRecall` —
   * nlist if none reaches it, i.e. exhaustive probing — and the full
   * `(nprobe, recall)` curve for observability/monitoring). Feed the
   * chosen value to [[searchIvfStore]]/[[searchIvfStoreAdc]] (for ADC
   * the curve bounds list recall; shortlist re-ranking cannot recover
   * a neighbor whose list was never probed).
   *
   * Cost: ONE exact scan of the encoded table against `sampleN`
   * broadcast queries (the explicit price of measuring; run it as
   * maintenance alongside [[ivfStoreAdvice]], not per query) plus an
   * nlist-bounded cumulative window. The query sample is md5-picked —
   * deterministic, reproducible, partitioning-independent.
   */
  def calibrateIvfNprobe(spark: SparkSession, storeDir: String,
      queries: DataFrame, k: Int, targetRecall: Double = 0.9,
      sampleN: Int = 32): (Int, DataFrame) = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(targetRecall > 0 && targetRecall <= 1,
      s"targetRecall must be in (0, 1], got $targetRecall")
    require(sampleN >= 1, s"sampleN must be >= 1, got $sampleN")
    val centers = readCentroids(spark, storeDir)
    val nlist = centers.size
    val q = unitVecs(queries, "query_id", "query_vec")
      .orderBy(md5(col("query_id").cast("string")), col("query_id"))
      .limit(sampleN)
    // calibrate against the LIVE corpus: a tombstoned item is neither
    // ground truth nor a reachable neighbor
    val stored = minusDeleted(spark,
      spark.read.parquet(storeDir + "/encoded"), storeDir, "item_id")
      .select("item_id", "item_vec", "list_id")
    // exact ground truth, stored list_id riding through the top-k as a
    // payload column (TopKPerGroup keeps the full row)
    val truth = TopK.perGroup(
      stored.join(broadcast(q))
        .filter(col("query_id") =!= col("item_id"))
        .select(col("query_id"), col("item_id"), col("list_id"),
          V.dot(col("query_vec"), col("item_vec")).as("cos")),
      Seq("query_id"), Seq(("cos", false), ("item_id", true)), k)
      .select("query_id", "item_id", "list_id")
    // probe_rank of every list per query: 1-based position in the
    // query's descending centroid-similarity order
    val ranks = q.select(col("query_id"),
        posexplode(reverse(array_sort(centScores(centers, col("query_vec")))))
          .as(Seq("p0", "probe")))
      .select(col("query_id"), (col("p0") + 1).as("probe_rank"),
        col("probe.lid").as("list_id"))
    val hits = truth.join(ranks, Seq("query_id", "list_id"))
    val total = hits.count() // = Σ per-query min(k, |corpus|-1)
    require(total > 0, s"calibrateIvfNprobe: no ground-truth neighbors — " +
      "empty store or empty query sample")
    // cumulative hits by probe_rank over ≤ nlist rows: bounded
    // single-task window, the same pass-2 shape as Packing
    val curve = hits.groupBy(col("probe_rank").as("nprobe"))
      .agg(count(lit(1)).as("__h"))
      .withColumn("recall",
        sum(col("__h")).over(org.apache.spark.sql.expressions.Window
          .orderBy("nprobe")
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)) / lit(total.toDouble))
      .select(col("nprobe").cast("int").as("nprobe"), col("recall"))
    val rows = curve.collect().map(r => r.getInt(0) -> r.getDouble(1))
      .sortBy(_._1)
    val chosen = rows.collectFirst {
      case (p, r) if r >= targetRecall => p
    }.getOrElse(nlist)
    (chosen, curve)
  }

  /**
   * Run [[calibrateIvfNprobe]] against a built store and PERSIST the
   * result as store metadata — the wiring that makes the measured
   * recall curve the store's OPERATING POINT instead of a report:
   *
   *  - `<storeDir>/calibration` — one row `(nprobe, target_recall, k,
   *    sample_n, n_items, n_lists)`: the chosen nprobe plus the store
   *    size and quantizer size it was measured AGAINST (what
   *    [[ivfStoreAdvice]] compares to flag staleness);
   *  - `<storeDir>/calibration_curve` — the full `(nprobe, recall)`
   *    curve for observability.
   *
   * [[searchIvfStore]] / [[searchIvfStoreAdc]] with `nprobe = 0`
   * consume the persisted value in preference to the constant
   * probed-share default — the knob that stops per-query cost growing
   * linearly with the corpus: as N grows under a √N-sized quantizer,
   * the recall target is typically met at a SHRINKING share of the
   * lists (neighbors concentrate in the few nearest lists), and the
   * measured curve is what licenses probing no deeper. Returns the
   * chosen nprobe. Run at build/compact/maintenance time, not per
   * query (one exact scan against `sampleN` broadcast queries). */
  def calibrateIvfStore(spark: SparkSession, storeDir: String,
      queries: DataFrame, k: Int, targetRecall: Double = 0.9,
      sampleN: Int = 32): Int = {
    import spark.implicits._
    val (chosen, curve) = calibrateIvfNprobe(spark, storeDir, queries, k,
      targetRecall, sampleN)
    val nItems = spark.read.parquet(storeDir + "/encoded").count()
    val nLists = readCentroids(spark, storeDir).size
    curve.coalesce(1).write.mode("overwrite")
      .parquet(storeDir + "/calibration_curve")
    Seq((chosen, targetRecall, k, sampleN, nItems, nLists))
      .toDF("nprobe", "target_recall", "k", "sample_n", "n_items", "n_lists")
      .coalesce(1).write.mode("overwrite")
      .parquet(storeDir + "/calibration")
    chosen
  }

  /** The persisted calibration, if any: (nprobe, n_items, n_lists) as
    * measured at calibration time. */
  private def readCalibration(spark: SparkSession,
      storeDir: String): Option[(Int, Long, Int)] = {
    val p = new org.apache.hadoop.fs.Path(storeDir + "/calibration")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else spark.read.parquet(p.toString).collect().headOption
      .map(r => (r.getAs[Int]("nprobe"), r.getAs[Long]("n_items"),
        r.getAs[Int]("n_lists")))
  }

  /** Resolve a store search's `nprobe = 0` ("derive it"): the
    * persisted calibration when one exists AND was measured against
    * this quantizer (same list count — a rebuilt quantizer reorders
    * every probe rank, so a stale calibrated depth is meaningless, not
    * merely imprecise: fall back and let [[ivfStoreAdvice]] flag the
    * recalibration); else the constant-share default
    * (`ceil(0.375 · nlist)` — recall-safe, linear-cost). */
  private def resolveStoreNprobe(spark: SparkSession, storeDir: String,
      nprobe: Int, nlist: Int): Int =
    if (nprobe > 0) nprobe
    else readCalibration(spark, storeDir) match {
      case Some((np, _, calLists)) if calLists == nlist =>
        math.min(math.max(1, np), nlist)
      case other =>
        if (other.isDefined)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"ivf store $storeDir: calibration was measured against " +
              s"${other.get._3} lists but the store now has $nlist — " +
              "ignoring it (recalibrate); probing the constant share")
        math.max(1, math.ceil(nlist * 0.375).toInt)
    }

  /**
   * Per-list health of a store: item count and data-file count for
   * every `list_id` partition of the encoded table. The two numbers
   * drive the two maintenance decisions — many files per list
   * ([[appendToIvfStore]] adds files every day) means run
   * [[compactIvfStore]]; a skewed item distribution (hot lists probe
   * slow, empty lists waste probes) means the stored quantizer has
   * drifted from the data and the store should be rebuilt with
   * retraining ([[buildIvfStore]] with `iters > 0` into a fresh dir,
   * then swap). Listing cost is bounded by nlist directories.
   */
  def ivfStoreStats(spark: SparkSession, storeDir: String): DataFrame = {
    import spark.implicits._
    val enc = new org.apache.hadoop.fs.Path(storeDir + "/encoded")
    val fs = enc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(enc).filter(_.isDirectory)
      .filter(_.getPath.getName.startsWith("list_id="))
      .map { d =>
        (d.getPath.getName.stripPrefix("list_id=").toInt,
          fs.listStatus(d.getPath)
            .count(_.getPath.getName.endsWith(".parquet")))
      }.toSeq.toDF("list_id", "n_files")
    spark.read.parquet(storeDir + "/encoded")
      .groupBy("list_id").agg(count(lit(1)).as("n_items"))
      .join(files, Seq("list_id"), "full_outer")
      .na.fill(0, Seq("n_items", "n_files"))
      .orderBy("list_id")
  }

  /**
   * Maintenance advisory for a live store — [[ivfStoreStats]] folded
   * into the two decisions a scheduler needs, with the √N discipline as
   * the yardstick. One row:
   *
   *  - `n_items`, `n_lists` — current size and built nlist;
   *  - `recommended_nlist` — [[adaptiveIvfConfig]] at today's n_items;
   *  - `imbalance` — max list size / mean list size (a drifted
   *    quantizer concentrates new data in few lists: hot lists probe
   *    slow AND recall decays because one list holds many structures);
   *  - `max_files` — worst per-list file count (append debris);
   *  - `retrain_advised` — recommended_nlist ≥ 2× built nlist (the
   *    corpus has grown ≥4× past the build) or imbalance > 4.0: rebuild
   *    with `buildIvfStore(iters > 0, nlist = 0)` into a fresh dir and
   *    swap. This is the trigger that keeps recall scale-invariant —
   *    cost already was (probe pruning), recall was not (q108's sf1
   *    finding).
   *  - `n_deleted` — standing tombstones ([[deleteFromIvfStore]]);
   *    n_items stays PHYSICAL (dead rows still cost scan I/O until
   *    compaction — exactly what this advisory prices);
   *  - `compact_advised` — max_files > 8, or tombstones past 10% of
   *    the physical rows: run [[compactIvfStore]];
   *  - `calibrated_nprobe` / `probed_share` — the persisted
   *    [[calibrateIvfStore]] operating point (null when never
   *    calibrated); the share is the advisory's cost readout — at a
   *    healthy √N store it should FALL as the corpus grows;
   *  - `recalibrate_advised` — no calibration, a calibration measured
   *    against a different quantizer (list-count mismatch — the
   *    searches already ignore it), or the store has grown ≥2× past
   *    the calibration's item count (the measured curve no longer
   *    describes this corpus): re-run [[calibrateIvfStore]].
   *
   * Cost: the stats scan (item counts per list — one narrow aggregate
   * over the encoded table) + an nlist-bounded listing. No vectors move.
   */
  def ivfStoreAdvice(spark: SparkSession, storeDir: String): DataFrame = {
    val nLists = readCentroids(spark, storeDir).size
    val nDeleted = readDeleted(spark, storeDir)
      .map(_.count()).getOrElse(0L)
    val cal = readCalibration(spark, storeDir)
    // a calibration against a different quantizer is already ignored
    // by the searches; its nprobe/share read as null here too
    val calFresh = cal.filter(_._3 == nLists)
    val calNprobeCol = calFresh.map(c => lit(c._1))
      .getOrElse(lit(null)).cast("int").as("calibrated_nprobe")
    val probedShareCol = calFresh
      .map(c => lit(math.min(c._1, nLists).toDouble / nLists))
      .getOrElse(lit(null)).cast("double").as("probed_share")
    val recalCol = (calFresh match {
      case None => lit(true)
      case Some((_, calItems, _)) =>
        col("n_items") >= lit(2L * math.max(1L, calItems))
    }).as("recalibrate_advised")
    ivfStoreStats(spark, storeDir)
      .agg(sum(col("n_items")).as("n_items"),
        max(col("n_items")).as("max_items"),
        avg(col("n_items")).as("mean_items"),
        max(col("n_files")).as("max_files"))
      .select(col("n_items"), lit(nLists).as("n_lists"),
        // same cap as adaptiveIvfConfig: past maxNlist items² the
        // uncapped √N would exceed any adaptive rebuild's nlist and a
        // scheduler acting on retrain_advised would rebuild in a loop
        least(ceil(sqrt(col("n_items").cast("double"))).cast("int"),
          lit(DefaultMaxNlist)).as("recommended_nlist"),
        round(col("max_items") / col("mean_items"), 2).as("imbalance"),
        col("max_files").cast("int").as("max_files"))
      .select(col("n_items"), col("n_lists"), col("recommended_nlist"),
        col("imbalance"), col("max_files"),
        lit(nDeleted).as("n_deleted"),
        (col("recommended_nlist") >= col("n_lists") * 2 ||
          col("imbalance") > 4.0).as("retrain_advised"),
        // file debris OR a tombstone share past 10% of the physical
        // rows: dead rows are scanned by every probe of their list
        // until compaction reclaims them
        (col("max_files") > 8 ||
          lit(nDeleted) * 10 > col("n_items")).as("compact_advised"),
        calNprobeCol, probedShareCol, recalCol)
  }

  // ---- Item-level delete: tombstones + compaction reclaim ----------

  private def deletedPath(storeDir: String): String = storeDir + "/deleted"

  /** The store's EFFECTIVE tombstone set as a one-column (item_id)
    * frame — the append-only op log ([[TombstoneLog]]: D tombstones,
    * R revives, latest seq per id wins; legacy one-column files read
    * as (id, 0, D)) resolved per id — or None when nothing was ever
    * deleted. Takedown-sized like the log itself (compaction clears
    * it, [[TombstoneLog.maybeFold]] bounds its file growth under
    * churn-heavy upsert traffic), so resolution is a broadcast-scale
    * aggregation, never a corpus-side shuffle. */
  private def readDeleted(spark: SparkSession,
      storeDir: String): Option[DataFrame] =
    TombstoneLog.resolved(spark, deletedPath(storeDir), "item_id")

  /** Exclude the store's tombstoned items from `df` (no-op when none
    * exist). The tombstone side is takedown-sized, never corpus-sized
    * (compaction reclaims it), so the anti join BROADCASTS it — the
    * probe path gains no shuffle and no store-side scan. */
  private def minusDeleted(spark: SparkSession, df: DataFrame,
      storeDir: String, idCol: String): DataFrame =
    readDeleted(spark, storeDir) match {
      case Some(d) => df.join(
        broadcast(d.select(col("item_id").as(idCol))), Seq(idCol),
        "left_anti")
      case None => df
    }

  /**
   * Item-level delete for a built IVF store — the takedown/forget path
   * a training-data pipeline needs routinely, without the full rebuild
   * that was previously the only option. TOMBSTONE semantics: the ids
   * land in `<storeDir>/deleted`; every search, calibration, append,
   * and split excludes them exactly from that moment; the vectors are
   * physically reclaimed by the next [[compactIvfStore]] (which also
   * clears the tombstones). The write is an append of the
   * takedown-sized id set — cost is independent of the corpus except
   * for one semi join against the encoded table (ids never stored are
   * not tombstoned, keeping the set tight and the call idempotent:
   * re-delivering a takedown batch appends nothing).
   *
   * TAKEDOWN WINS on re-delivery: a tombstoned id is dropped from any
   * later [[appendToIvfStore]] batch — a late re-delivery of a
   * taken-down item must not resurrect it. To genuinely re-add an id,
   * compact first (reclaiming the tombstone), then append.
   *
   * Run deletes from the maintenance writer, like compaction — the
   * store family is single-writer by contract. Returns the number of
   * NEW tombstones filed.
   */
  def deleteFromIvfStore(spark: SparkSession, ids: DataFrame,
      storeDir: String): Long = ControlPlane(spark, ids) { (spark, ids) =>
    import org.apache.spark.storage.StorageLevel
    val want = ids.select(col(ids.columns.head).as("item_id")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // index lookup first — the cold-shard fast path: Some(empty)
      // PROVES no batch id is stored (ids never stored are not
      // tombstoned), before any log read or corpus-side job. `ensure`
      // lazily creates the index on the store's FIRST mutation (one
      // corpus-narrow pass ≈ the fallback scan it replaces).
      AnnLocIndex.ensure(spark, storeDir)
      val cands = AnnLocIndex.candidateLists(spark, storeDir, want)
      if (cands.exists(_.isEmpty)) return 0L
      TombstoneLog.maybeFold(spark, deletedPath(storeDir), "item_id")
      // one log read serves the dead-set AND the append's seq (the
      // routed CDC path runs this once per shard per micro-batch)
      val (ops, seq0) = TombstoneLog.snapshot(spark,
        deletedPath(storeDir), "item_id")
      val fresh0 = want.join(
        locateIds(spark, storeDir, want, cands).select("item_id"),
        Seq("item_id"), "left_semi")
      val fresh = (ops match {
        case Some(o) => fresh0.join(o.filter(col("op") === "D")
          .select("item_id"), Seq("item_id"), "left_anti")
        case None => fresh0
      }).persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val n = fresh.count()
        if (n > 0)
          TombstoneLog.append(spark, fresh, deletedPath(storeDir),
            "item_id", "D", seq0)
        n
      } finally fresh.unpersist(blocking = false)
    } finally want.unpersist(blocking = false)
  }

  /** The TRUE current locations of a batch of ids — (item_id, list_id)
    * rows from the encoded table, one per stored row of a batch id.
    * This is THE id-location primitive every store mutation
    * (delete/reclaim/upsert) drives from; the encoded table stays the
    * single source of truth. `cands` is the caller's [[AnnLocIndex]]
    * candidate lookup (the index is built by [[buildIvfStore]],
    * rebuilt by [[compactIvfStore]]): when present, the scan is pruned
    * to the CANDIDATE lists it names — O(batch) buckets read plus
    * the touched lists, instead of a narrow O(corpus) scan per
    * mutation per shard, the measured fixed-cost floor of every CDC
    * micro-batch (SCALING.md r13). The index is a strict SUPERSET of
    * live locations by protocol (entries land BEFORE their encoded
    * rows; removals leave stale entries), so a stale or duplicated
    * entry costs one extra pruned list read, never a missed row;
    * stores without the index (legacy) fall back to the full narrow
    * scan. */
  private def locateIds(spark: SparkSession, storeDir: String,
      want: DataFrame, cands: Option[Set[Int]]): DataFrame = {
    val enc = spark.read.parquet(storeDir + "/encoded")
      .select("item_id", "list_id")
    val pruned = cands match {
      case Some(c) => enc.filter(col("list_id")
        .isin(c.toSeq.sorted.map(Integer.valueOf): _*))
      case None => enc
    }
    pruned.join(broadcast(want), Seq("item_id"), "left_semi")
  }

  /**
   * Targeted physical reclaim — the UPSERT enabler. Where
   * [[compactIvfStore]] reclaims the store's ENTIRE tombstone set (and
   * merges append debris while at it), this removes exactly the given
   * ids' rows and re-opens exactly those ids, leaving every other
   * standing tombstone standing — so a replacement batch pays for the
   * lists IT touches, never for unrelated takedowns. Per table
   * (encoded, codes): the lists holding the target rows are found by
   * one broadcast semi join (target is batch-sized), lists whose every
   * row is a target are dropped outright, the rest are rewritten
   * without the target rows — rows of OTHER tombstoned ids are KEPT
   * physically (their tombstones still hide them; the next full
   * compaction reclaims them). Then an R (revive) row per id appends
   * to the op log, re-opening the id for [[appendToIvfStore]].
   *
   * Crash windows, in order: after the encoded rewrite — the
   * tombstones still stand, reads exclude the ids regardless of which
   * table holds stale rows; after both rewrites, before the revive
   * append — tombstones stand over nothing, reads correct, a re-run
   * finds no rows to rewrite and lands the revive; the revive append
   * itself is one job commit (torn = invisible `_temporary` debris).
   * Single-writer like every store mutation. Returns the number of
   * ids reclaimed (ids not currently tombstoned are ignored — revive
   * without a standing D would be meaningless and is never written).
   */
  def reclaimTombstones(spark: SparkSession, ids: DataFrame,
      storeDir: String): Long = ControlPlane(spark, ids) { (spark, ids) =>
    import org.apache.spark.storage.StorageLevel
    TombstoneLog.maybeFold(spark, deletedPath(storeDir), "item_id")
    // one log read serves the dead-set AND both appends' seqs
    val (ops, seq0) = TombstoneLog.snapshot(spark,
      deletedPath(storeDir), "item_id")
    val dead = ops.map(_.filter(col("op") === "D").select("item_id"))
      .getOrElse(return 0L)
    val idCol = ids.columns.head
    val target = ids.select(col(idCol).as("item_id")).distinct()
      .join(dead, Seq("item_id"), "left_semi")
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val n = target.count()
      if (n == 0L) return 0L
      // candidate lists from the location index: a tombstoned id's
      // rows can only live in a list the index names for it (entries
      // land before rows, removals leave them stale-but-present), so
      // BOTH tables' discovery scans prune to these lists — per-table
      // discovery stays (the codes table is scanned itself, so a
      // re-run after a death between the two rewrites still finds the
      // codes rows the first run never reclaimed). Lazily created on
      // the store's first mutation.
      AnnLocIndex.ensure(spark, storeDir)
      val cands = AnnLocIndex.candidateLists(spark, storeDir, target)
      rewriteWithoutTarget(spark, storeDir, target, cands)
      // rows physically gone — re-open the ids LAST, so a death
      // anywhere above leaves the tombstones standing (reads correct)
      TombstoneLog.append(spark, target, deletedPath(storeDir),
        "item_id", "R", seq0)
      n
    } finally target.unpersist(blocking = false)
  }

  /** The shared physical-rewrite core of [[reclaimTombstones]] and the
    * fused upsert prep: remove exactly `target`'s rows from the
    * encoded and codes tables, list-partition-pruned to `cands` when
    * the location index supplied them (None = legacy full scan). Rows
    * of OTHER tombstoned ids survive (their tombstones stand; the next
    * full compaction reclaims them); lists whose every row is a target
    * drop outright. Discovery runs PER TABLE — the one-scan shortcut
    * of driving both tables off the encoded locations would leave a
    * re-run blind to codes rows whose encoded twins a crashed first
    * run already removed. */
  private def rewriteWithoutTarget(spark: SparkSession, storeDir: String,
      target: DataFrame, cands: Option[Set[Int]]): Unit = {
    val fs = new org.apache.hadoop.fs.Path(storeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the two tables rewrite CONCURRENTLY (r16): discovery stays per
    // table (the crashed-re-run argument above is order-independent —
    // each leg scans the table it rewrites), the legs touch disjoint
    // dirs, and the dynamic overwrite is a per-write option
    perShardPar(spark, Seq("encoded", "codes")) { t =>
      val dir = new org.apache.hadoop.fs.Path(s"$storeDir/$t")
      if (fs.exists(dir)) {
        val tbl0 = spark.read.parquet(dir.toString)
        val tbl = cands match {
          case Some(c) => tbl0.filter(col("list_id")
            .isin(c.toSeq.sorted.map(Integer.valueOf): _*))
          case None => tbl0
        }
        // ONE pruned job decides both sets (touched = lists with ≥1
        // target row; alive = touched lists with ≥1 surviving row —
        // rows of OTHER tombstoned ids survive, only the target is
        // reclaimed): the separate semi/anti discovery jobs were pure
        // per-batch floor (SCALING.md r14). Bounded by batch size.
        val st = tbl
          .join(broadcast(target.withColumn("_t", lit(1))),
            Seq("item_id"), "left")
          .groupBy("list_id")
          .agg(max(col("_t")).as("has_t"),
            max(when(col("_t").isNull, 1).otherwise(0)).as("has_alive"))
          .filter(col("has_t") === 1)
          .select("list_id", "has_alive").collect()
        val touched = st.map(_.getInt(0)).toSet
        if (touched.nonEmpty) {
          val alive = st.filter(_.getInt(1) == 1).map(_.getInt(0)).toSet
          (touched -- alive).foreach(l => fs.delete(
            new org.apache.hadoop.fs.Path(s"$storeDir/$t/list_id=$l"),
            true))
          val rewrite = alive.toSeq.sorted
            .map(l => s"$storeDir/$t/list_id=$l")
          if (rewrite.nonEmpty) {
            // dynamic overwrite as a PER-WRITE option, not the
            // session-conf set/restore this used to be (r16): the
            // writer option overrides the conf for exactly this write,
            // so a concurrently-running sibling shard's rewrite (the
            // parallel per-shard mutation loops) can never observe a
            // half-restored session toggle
            spark.read.option("basePath", s"$storeDir/$t")
              .parquet(rewrite: _*)
              .join(broadcast(target), Seq("item_id"), "left_anti")
              .repartition(rewrite.length, col("list_id"))
              .write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy("list_id")
              .parquet(s"$storeDir/$t")
          }
        }
      }
    }
  }

  /**
   * REPLACE a batch of items in one store — the CDC `U` path, priced
   * as the lists the batch touches instead of the whole-store
   * compaction that was previously the only way to re-admit an id
   * ([[deleteFromIvfStore]]'s compact-first contract). Three steps,
   * each idempotent, so a death in any window heals by re-running the
   * upsert: tombstone the ids' standing rows ([[deleteFromIvfStore]]
   * — ids not stored tombstone nothing), physically reclaim and
   * re-open exactly those ids ([[reclaimTombstones]]), then admit the
   * new vectors ([[appendToIvfStore]] — each vector re-files by the
   * STORED quantizer, wherever the new embedding actually belongs).
   *
   * SEMANTICS vs takedown-wins: a plain append DROPS tombstoned ids —
   * a late re-delivery of a taken-down item must not resurrect it. An
   * upsert is the opposite kind of write: an EXPLICIT, intentional
   * replacement, so it revives a previously tombstoned id by design
   * (CDC per-key ordering is the transport's contract — a `U`
   * arriving after the `D` that should supersede it is an upstream
   * ordering bug, not something this layer can detect). Route `I`
   * events through the append and `U` events through here
   * ([[applyCdcBatch]] does exactly that).
   */
  def upsertIntoIvfStore(spark: SparkSession, newVecs: DataFrame,
      storeDir: String): Unit =
      ControlPlane(spark, newVecs) { (spark, newVecs) =>
    upsertPrepOne(spark, newVecs.select(newVecs.columns.head), storeDir)
    appendToIvfStore(spark, newVecs, storeDir)
  }

  /** The upsert's delete + reclaim against ONE store dir, fused around
    * a single id-location pass: the semantics of
    * [[deleteFromIvfStore]] followed by [[reclaimTombstones]], with
    * the location coming from the [[AnnLocIndex]] candidate lookup
    * when the store carries one — O(batch) bucket reads plus the
    * touched lists, instead of the narrow O(corpus) encoded scan that
    * was the measured fixed-cost floor of every CDC micro-batch
    * (SCALING.md r13). On a COLD shard (no batch id stored, no op log
    * standing) the prep is a provable no-op after the index lookup
    * alone — the sharded CDC path's per-shard floor stops growing with
    * corpus size. Crash windows are the delete+reclaim composition's,
    * unchanged: D records land first (seq s), physical rewrite next,
    * R records last (seq s+1) — one log read serves the dead-set and
    * both seqs. */
  private def upsertPrepOne(spark: SparkSession, ids: DataFrame,
      storeDir: String): Unit =
    mutatePrepOne(spark, ids, None, storeDir)

  /** The generalized per-store mutation prep [[upsertPrepOne]] and the
    * CDC dispatch share — ONE location pass per shard per BATCH, not
    * per lane (r14: applyCdcBatch previously ran the full per-shard
    * machinery once for the D lane and again for the U lane; at toy
    * scale the mutation floor is job count, and at any scale the
    * location pass is the corpus-facing term). `upsertIds` get the
    * full replace prep (tombstone → targeted reclaim → revive);
    * `deleteIds` get the tombstone ONLY (their rows stay physically,
    * hidden, until compaction — exactly [[deleteFromIvfStore]]'s
    * semantics). Crash windows are unchanged from the composition: D
    * records land first (seq s) covering BOTH lanes' located rows,
    * the physical rewrite touches only the upsert ids' rows, R
    * records land LAST (seq s+1) for the upsert ids alone. */
  private def mutatePrepOne(spark: SparkSession, ids: DataFrame,
      deleteIds: Option[DataFrame], storeDir: String): Unit = {
    import org.apache.spark.storage.StorageLevel
    val wantU = ids.select(col(ids.columns.head).as("item_id")).distinct()
    val want = (deleteIds match {
      case Some(d) => wantU.unionByName(
        d.select(col(d.columns.head).as("item_id"))).distinct()
      case None => wantU
    }).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // lazily created on the store's first mutation (one
      // corpus-narrow pass ≈ the fallback scan it replaces)
      AnnLocIndex.ensure(spark, storeDir)
      val cands = AnnLocIndex.candidateLists(spark, storeDir, want)
      TombstoneLog.maybeFold(spark, deletedPath(storeDir), "item_id")
      val (ops, seq0) = TombstoneLog.snapshot(spark,
        deletedPath(storeDir), "item_id")
      // cold-shard fast path: the index PROVES none of the batch is
      // stored, and with no op log there is nothing to revive either
      if (cands.exists(_.isEmpty) && ops.isEmpty) return
      val dead0 = ops.map(_.filter(col("op") === "D").select("item_id"))
      val located = {
        val enc = spark.read.parquet(storeDir + "/encoded")
          .select("item_id", "list_id")
        (cands match {
          case Some(c) => enc.filter(col("list_id")
            .isin(c.toSeq.sorted.map(Integer.valueOf): _*))
          case None => enc
        }).join(broadcast(want), Seq("item_id"), "left_semi")
      }
      // BOTH lane sets decided by ONE flagged frame and ONE driver
      // action (r16: the separate fresh-lc/count/target-lc/isEmpty
      // chain was 4 jobs per shard per batch of pure fixed floor):
      //   _fresh  — located rows not already dead → tombstone (D)
      //   _target — upsert ids previously dead OR freshly tombstoned
      //             → physically reclaim + revive (R)
      // identical, per id, to the old fresh/target derivation.
      // EAGER localCheckpoint, not persist: the writes below trigger
      // Spark's refreshByPath on the log and data dirs, which
      // RECACHES any cached plan whose lineage reads those paths — a
      // persisted frame would silently recompute against the
      // post-write files (the revive set read back EMPTY from the
      // rewritten encoded table when this used persist).
      // Checkpointing severs the file lineage; the frame is
      // batch-sized.
      val locFlag = located.select("item_id").distinct()
        .withColumn("_loc", lit(true))
      val deadFlag = dead0.map(_.distinct().withColumn("_dead", lit(true)))
      val uFlag = wantU.withColumn("_u", lit(true))
      val flagged0 = want.select("item_id")
        .join(uFlag, Seq("item_id"), "left")
        .join(locFlag, Seq("item_id"), "left")
      val flagged = (deadFlag match {
        case Some(d) => flagged0.join(d, Seq("item_id"), "left")
        case None => flagged0.withColumn("_dead", lit(null).cast("boolean"))
      }).select(col("item_id"),
          (coalesce(col("_loc"), lit(false)) &&
            !coalesce(col("_dead"), lit(false))).as("_fresh"),
          coalesce(col("_u"), lit(false)).as("_u"),
          coalesce(col("_dead"), lit(false)).as("_dead"))
        .select(col("item_id"), col("_fresh"),
          (col("_u") && (col("_dead") || col("_fresh"))).as("_target"))
        .localCheckpoint(true)
      val c = flagged.agg(
        count(when(col("_fresh"), 1)), count(when(col("_target"), 1))
      ).head()
      val (nFresh, nTarget) = (c.getLong(0), c.getLong(1))
      // 1. tombstone the located rows not already dead — BOTH lanes
      //    (a delete id is done here; an upsert id is re-opened in
      //    step 4)
      if (nFresh > 0)
        TombstoneLog.append(spark,
          flagged.filter(col("_fresh")).select("item_id"),
          deletedPath(storeDir), "item_id", "D", seq0)
      if (nTarget == 0) return
      val target = flagged.filter(col("_target")).select("item_id")
      // 3. physical rewrite — per-table discovery pruned to the
      //    candidate lists (see rewriteWithoutTarget: per-table is
      //    what keeps a re-run after a death between the encoded and
      //    codes rewrites from leaving stale codes rows behind)
      rewriteWithoutTarget(spark, storeDir, target, cands)
      // 4. re-open the upsert ids LAST (a death above leaves
      //    tombstones standing — reads correct, the re-run completes)
      TombstoneLog.append(spark, target, deletedPath(storeDir),
        "item_id", "R", seq0 + 1)
    } finally want.unpersist(blocking = false)
  }

  /**
   * [[deleteFromIvfStore]] across a sharded store — hash-disjoint or
   * routed. Hash shards locate each id arithmetically ([[shardOf]] is
   * the append contract), so each shard's delete only semi-joins its
   * own slice; a ROUTED store locates by actual membership (one probe
   * of each shard's encoded ids) — immune to the post-split
   * moved-argmax caveat, an id is tombstoned exactly where it lives.
   * Refuses to run over a staged split: resume would re-file the hot
   * shard from the staging and silently resurrect anything tombstoned
   * there in between. Returns the number of new tombstones.
   */
  def deleteFromShardedIvfStore(spark: SparkSession, ids: DataFrame,
      storeDir: String): Long = ControlPlane(spark, ids) { (spark, ids) =>
    val sh = readShardCount(spark, storeDir)
    val routed = isRoutedStore(spark, storeDir)
    if (routed) requireNoStagedSplit(spark, storeDir)
    val idCol = ids.columns.head
    // per-shard deletes run CONCURRENTLY (r16) — disjoint shard dirs
    // and logs, see perShardPar; the sum is order-independent
    perShardPar(spark, builtShardDirs(spark, storeDir)) { case (i, d) =>
      val slice =
        if (routed) ids
        else ids.filter(shardOf(col(idCol), sh) === i)
      deleteFromIvfStore(spark, slice, d)
    }.sum
  }

  /**
   * [[upsertIntoIvfStore]] across a sharded store — hash-disjoint or
   * routed. Delete and reclaim locate each id where it actually LIVES
   * (hash shards arithmetically, routed shards by membership — each
   * shard's reclaim semi-joins the id set against its own tombstones,
   * so a shard holding none of the batch does no work); the new
   * vectors then re-file by the store's CURRENT assignment rule. On a
   * ROUTED store that matters: a replaced embedding whose nearest
   * super-centroid differs from its old copy's shard lands in its NEW
   * home — legal precisely because the old copy is physically gone,
   * and exactly what a post-split/merge router wants. Refuses to run
   * over a staged rebalance (via the delete/append guards). Single
   * writer, like every store mutation.
   */
  def upsertIntoShardedIvfStore(spark: SparkSession, newVecs: DataFrame,
      storeDir: String): Unit =
      ControlPlane(spark, newVecs) { (spark, newVecs) =>
    val sh = readShardCount(spark, storeDir)
    val routed = isRoutedStore(spark, storeDir)
    if (routed) requireNoStagedSplit(spark, storeDir)
    val ids = newVecs.select(newVecs.columns.head)
    val idCol = ids.columns.head
    // per-shard fused delete+reclaim (ONE narrow id-location scan per
    // shard, see upsertPrepOne — down from ~3 per table per shard as
    // the delete+reclaim composition); hash shards see only their
    // arithmetic slice, routed shards locate by actual membership.
    // Shards prep CONCURRENTLY (r16) — disjoint dirs, see perShardPar.
    perShardPar(spark, builtShardDirs(spark, storeDir)) { case (i, d) =>
      val slice =
        if (routed) ids
        else ids.filter(shardOf(col(idCol), sh) === i)
      upsertPrepOne(spark, slice, d)
    }
    if (routed) appendToRoutedIvfStore(spark, newVecs, storeDir)
    else appendToShardedIvfStore(spark, newVecs, storeDir)
  }

  /**
   * Apply one CDC micro-batch — (id, vector, op, seq) rows with op ∈
   * {I, U, D} — to an IVF store of ANY layout (single dir, hash-
   * sharded, routed): the batch core
   * [[graft.streaming.AnnIngestStream.ingestCdc]] dispatches to. The
   * batch first resolves to ONE terminal op per id (latest seq wins;
   * a same-seq tie resolves D > U > I — conservative takedown-wins),
   * then applies deletes as tombstones (a re-delivered D files
   * nothing), updates as replacements (revive by design — see
   * [[upsertIntoIvfStore]]) and inserts as appends (tombstoned ids
   * DROP — takedown wins over a late re-delivered I). Cross-id apply
   * order is irrelevant after resolution (one op per id); the D and U
   * lanes FUSE into one prep pass per store/shard (r14,
   * `mutatePrepOne` — one location pass per shard per batch instead
   * of per lane). Replaying the whole batch (a restart
   * of an uncommitted foreachBatch) converges to the same store
   * state: D and I re-apply to nothing, U re-replaces with the same
   * vector. Returns (inserted, updated, deleted) counts of ids
   * DISPATCHED per lane (an I of an already-stored or tombstoned id
   * still counts as dispatched — admission drops it downstream).
   */
  def applyCdcBatch(spark: SparkSession, batch: DataFrame,
      storeDir: String, idCol: String = "vec_id",
      vecCol: String = "embedding", opCol: String = "op",
      seqCol: String = "seq"): (Long, Long, Long) =
      ControlPlane(spark, batch) { (spark, batch) =>
    import org.apache.spark.storage.StorageLevel
    // op rank breaks same-seq ties: D > U > I
    val rank = when(col("op") === "D", 2)
      .when(col("op") === "U", 1)
      .when(col("op") === "I", 0)
    // raw-level bad-op flag, rides the terminal groupBy as one extra
    // agg column (r16): an unknown op superseded by a later legit op
    // for the same id is still producer corruption — it may stand for
    // semantics this dispatch doesn't implement, and terminal-op
    // resolution must not mask it (see Dedup.dispatchSigCdc)
    val badRaw = when(col("op").isNull || !col("op").isin("I", "U", "D"),
      coalesce(col("op"), lit("<null>")))
    val last = batch
      .select(col(idCol).as("vec_id"), col(vecCol).as("embedding"),
        col(opCol).as("op"), col(seqCol).cast("long").as("seq"))
      .withColumn("_r", rank)
      .withColumn("_bad", badRaw)
      .groupBy("vec_id")
      .agg(max(struct(col("seq"), col("_r"), col("op"),
        col("embedding"))).as("last"), max(col("_bad")).as("bad_op"))
      .select(col("vec_id"), col("last.embedding").as("embedding"),
        col("last.op").as("op"), col("bad_op"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // BOTH gates and the per-op counts in ONE driver action (r15
      // verdict: three separate gate jobs per micro-batch were the
      // fixed floor pricing the CDC-heaviest bench queries). The op
      // gate refuses unknown/null ops BY NAME, anywhere in the batch —
      // superseded ops included (see badRaw above). The body gate is
      // symmetric (r15): a null embedding is legal ONLY on D (delete
      // payloads carry the id alone) — unguarded, a partial-payload
      // UPDATE would tombstone + reclaim the old row and then append
      // NOTHING (the encode path drops the null row), a replacement
      // silently degraded to a delete; refused BY ID instead. Sampled
      // sort_array'd collect_sets keep the messages deterministic and
      // batch-bounded.
      val isBodiless = col("op").isin("I", "U") &&
        col("embedding").isNull
      val g = last.agg(
        count(when(col("op") === "I", 1)),
        count(when(col("op") === "U", 1)),
        count(when(col("op") === "D", 1)),
        count(col("bad_op")),
        slice(sort_array(collect_set(col("bad_op"))), 1, 10),
        count(when(isBodiless, 1)),
        slice(sort_array(collect_set(
          when(isBodiless, col("vec_id").cast("string")))), 1, 20)
      ).head()
      require(g.getLong(3) == 0L, "applyCdcBatch: ops must be I, U or " +
        s"D — got ${g.getSeq[String](4).mkString(", ")}")
      require(g.getLong(5) == 0L, "applyCdcBatch: I/U events must " +
        "carry an embedding (only D may be id-only) — null for ids " +
        g.getSeq[String](6).mkString(", "))
      val counts = Map("I" -> g.getLong(0), "U" -> g.getLong(1),
        "D" -> g.getLong(2))
      val sharded = {
        val p = new org.apache.hadoop.fs.Path(storeDir + "/sharding")
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
      }
      def lane(op: String): DataFrame =
        last.filter(col("op") === op).select("vec_id", "embedding")
      val (hasI, hasU, hasD) = (counts.getOrElse("I", 0L) > 0,
        counts.getOrElse("U", 0L) > 0, counts.getOrElse("D", 0L) > 0)
      // D and U share ONE fused prep pass per store/shard (r14 —
      // mutatePrepOne: one location pass per shard per BATCH instead
      // of per lane; the lanes are disjoint after terminal-op
      // resolution, so D ids tombstone-only and U ids replace inside
      // the same pass, with the same crash windows as the composition)
      if (hasD || hasU) {
        val dIds = if (hasD) Some(lane("D").select("vec_id")) else None
        val uIds = lane("U").select("vec_id")
        if (!sharded) {
          mutatePrepOne(spark, uIds, dIds, storeDir)
        } else {
          val sh = readShardCount(spark, storeDir)
          val routed = isRoutedStore(spark, storeDir)
          if (routed) requireNoStagedSplit(spark, storeDir)
          // shards prep CONCURRENTLY (r16) — disjoint shard dirs, see
          // perShardPar: the serial loop made every CDC micro-batch
          // pay O(shards) × the per-shard tiny-job chain in wall time
          perShardPar(spark, builtShardDirs(spark, storeDir)) {
            case (i, d) =>
              def sl(df: DataFrame): DataFrame =
                if (routed) df
                else df.filter(shardOf(col(df.columns.head), sh) === i)
              mutatePrepOne(spark, sl(uIds), dIds.map(sl), d)
          }
        }
      }
      // U and I share ONE admission pass (r16 optimization): after the
      // prep above, the U ids are physically reclaimed and revived, so
      // the append's tombstone anti passes them exactly as the
      // separate U-lane append did, while the I ids keep the
      // takedown-wins drop — the lanes are disjoint after terminal-op
      // resolution and every append-side decision is per-id, so one
      // call on the union is row-for-row the two sequential calls at
      // HALF the per-batch append machinery (the routed append's
      // per-shard tombstone-union read, the staged assignment pass,
      // and each touched shard's anti-join ran TWICE per batch when
      // both lanes were present — pure fixed-floor duplication at CDC
      // cadence).
      if (hasU || hasI) {
        val rows = last.filter(col("op").isin("U", "I"))
          .select("vec_id", "embedding")
        if (!sharded) appendToIvfStore(spark, rows, storeDir)
        else if (isRoutedStore(spark, storeDir))
          appendToRoutedIvfStore(spark, rows, storeDir)
        else appendToShardedIvfStore(spark, rows, storeDir)
      }
      (counts.getOrElse("I", 0L), counts.getOrElse("U", 0L),
        counts.getOrElse("D", 0L))
    } finally last.unpersist(blocking = false)
  }

  /**
   * Merge append debris AND reclaim tombstoned items: rewrite every
   * list partition holding more than one data file or at least one
   * deleted row back to ONE file of live rows per list, in the encoded
   * table and (when present) the code table; lists whose every row is
   * tombstoned are dropped outright (dynamic overwrite never touches a
   * partition it writes no rows for — those dirs are deleted
   * explicitly, first). Only affected partitions are read or written —
   * untouched lists keep their files byte-identical (spec-asserted).
   * One `repartition` on `list_id` puts each list in one task, so each
   * rewritten dir lands one file. The tombstone record is cleared LAST,
   * after both tables are physically clean — a crash anywhere earlier
   * leaves the tombstones standing over already-reclaimed (or
   * yet-to-be-reclaimed) rows, which reads correctly either way, and a
   * re-run completes the reclaim.
   */
  def compactIvfStore(spark: SparkSession, storeDir: String): Unit =
      ControlPlane(spark) { spark =>
    val rootFs = new org.apache.hadoop.fs.Path(storeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dead = readDeleted(spark, storeDir)
    // the two tables rewrite CONCURRENTLY (r16): each leg reads and
    // writes only its own dir, `dead` is a shared read-only frame,
    // and the tombstone clear still runs strictly AFTER both legs —
    // the crash protocol ("a crash anywhere earlier leaves the
    // tombstones standing") is window-for-window the serial loop's
    perShardPar(spark, Seq("encoded", "codes")) { t =>
      val dir = new org.apache.hadoop.fs.Path(s"$storeDir/$t")
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(dir)) {
        val fragmented = fs.listStatus(dir).filter(_.isDirectory)
          .filter(_.getPath.getName.startsWith("list_id="))
          .filter(d => fs.listStatus(d.getPath)
            .count(_.getPath.getName.endsWith(".parquet")) > 1)
          .map(_.getPath.getName.stripPrefix("list_id=").toInt).toSet
        // lists holding tombstoned rows, split into still-alive (live
        // rows remain -> rewrite) and fully-dead (drop the dir) — both
        // bounded by nlist. ONE pruned job decides both sets (the
        // rewriteWithoutTarget pattern, r17): the semi-then-anti pair
        // was two driver actions AND two full table scans per compact
        // per table — pure fixed floor at maintenance cadence, and a
        // doubled corpus read at any scale.
        val (aliveDead, fullyDead) = dead match {
          case Some(d) =>
            val st = spark.read.parquet(dir.toString)
              .join(broadcast(d.withColumn("_t", lit(1))),
                Seq("item_id"), "left")
              .groupBy("list_id")
              .agg(max(col("_t")).as("has_dead"),
                max(when(col("_t").isNull, 1).otherwise(0)).as("has_alive"))
              .filter(col("has_dead") === 1)
              .select("list_id", "has_alive").collect()
            val touched = st.map(_.getInt(0)).toSet
            val alive = st.filter(_.getInt(1) == 1).map(_.getInt(0)).toSet
            (alive, touched -- alive)
          case None => (Set.empty[Int], Set.empty[Int])
        }
        fullyDead.foreach(l => fs.delete(
          new org.apache.hadoop.fs.Path(s"$storeDir/$t/list_id=$l"), true))
        val rewrite = ((fragmented ++ aliveDead) -- fullyDead)
          .toSeq.sorted.map(l => s"$storeDir/$t/list_id=$l")
        if (rewrite.nonEmpty) {
          // self-overwrite is safe here: dynamic overwrite stages the
          // rewritten files and deletes the matched partition dirs only
          // at commit, after the read side of the job has finished.
          // Dynamic mode rides a PER-WRITE option (r16) — see
          // rewriteWithoutTarget: no session-conf set/restore window
          // for a concurrent sibling mutation to race.
          minusDeleted(spark,
            spark.read.option("basePath", s"$storeDir/$t")
              .parquet(rewrite: _*), storeDir, "item_id")
            .repartition(rewrite.length, col("list_id"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("list_id")
            .parquet(s"$storeDir/$t")
        }
      }
    }
    // both tables physically clean — the tombstones have no referent
    // left; clearing them re-opens the ids for future appends (the
    // supersede-first clear: a bare recursive delete could drop an
    // id's R file and keep its D file, falsely tombstoning a live
    // revived row)
    TombstoneLog.clear(spark, deletedPath(storeDir), "item_id")
    // refresh the location index from the clean table: sheds the stale
    // entries reclaims left behind (superset → exact again) and
    // MIGRATES legacy index-less stores. Staged swap — a death leaves
    // either the old index (still a valid superset: compaction never
    // moves a row between lists) or none (scan fallback).
    AnnLocIndex.rebuild(spark, storeDir)
  }

  // ---- Sharded IVF store (past the per-plan nlist cap) ----

  /** Shard count the √N discipline needs at corpus size `n`: 1 until
    * the adaptive nlist would exceed the per-plan centroid ceiling
    * (~10⁶ items at the default cap), then the smallest split that
    * brings every shard's quantizer back under it. */
  def adaptiveIvfShards(n: Long, maxNlist: Int = DefaultMaxNlist): Int = {
    require(n > 0, s"adaptiveIvfShards needs a non-empty corpus, got n=$n")
    val want = math.max(1L, math.round(math.sqrt(n.toDouble)))
    math.max(1, math.ceil(want.toDouble / maxNlist).toInt)
  }

  /** Portable hash-disjoint shard of an item id — md5-derived
    * ([[graft.functions.PortableHash.h60]], always nonnegative), so
    * the DuckDB oracle replays the split bit-for-bit. */
  private def shardOf(id: Column, shards: Int): Column =
    (graft.functions.PortableHash.h60(id) % shards).cast("int")

  /**
   * [[buildIvfStore]] SHARDED past the nlist plan cap — the code path
   * SCALING.md's "shard the store build" escape hatch promised. The
   * coarse quantizer's centroids ship as plan-time literals inside one
   * expression, so a single quantizer cannot grow past
   * [[DefaultMaxNlist]] lists without blowing the codegen/JIT budgets;
   * past ~nlist² items the √N discipline therefore splits the CORPUS
   * first: `shards` hash-disjoint item shards (portable md5 split),
   * one independent sub-quantizer per shard, each under the cap.
   *
   * Layout: `<storeDir>/shard=<i>/` is a complete ordinary IVF store
   * (encoded + centroids [+ codes/books]); `<storeDir>/sharding` is a
   * one-row parquet recording the shard count. Every single-store tool
   * (advice, stats, compaction, calibration) applies per shard dir.
   *
   * I/O shape: ONE corpus pass splits the data into a staging table
   * partitioned by shard; each per-shard build then reads only its
   * partition directory — total ≈ 2 corpus scans + the per-shard
   * builds, never `shards` scans of the full corpus. A shard the hash
   * left empty (tiny corpora) is simply absent; searches skip it.
   *
   * `shards = 0` derives the count from the corpus
   * ([[adaptiveIvfShards]]); `nlist = 0` sizes each sub-quantizer
   * adaptively from ITS shard's count. Returns the shard count.
   */
  def buildShardedIvfStore(corpus: DataFrame, storeDir: String,
      shards: Int = 0, nlist: Int = 0, iters: Int = 0, m: Int = 0,
      ksub: Int = 8, dim: Int = 64): Int = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val sh = if (shards > 0) shards else adaptiveIvfShards(corpus.count())
    val staging = storeDir + "/_byshard"
    val fs = new org.apache.hadoop.fs.Path(storeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // REBUILD ATOMICITY (r10 advice): invalidate the previous build's
    // sharding record BEFORE any per-shard work. A crash mid-rebuild
    // must leave readers failing LOUDLY on the missing record, never
    // reading a stale shard count over dirs split with a different
    // modulus (silently missing neighbors). The record is re-written
    // as the build's final step, after every shard dir is complete.
    fs.delete(new org.apache.hadoop.fs.Path(storeDir + "/sharding"), true)
    corpus.select(col("vec_id"), col("embedding"),
        shardOf(col("vec_id"), sh).as("shard"))
      .write.mode("overwrite").partitionBy("shard").parquet(staging)
    try {
      // per-shard builds run CONCURRENTLY (r16) — each reads only its
      // own staging partition and writes only its own shard dir; see
      // perShardPar for the disjointness/safety argument
      perShardPar(spark, (0 until sh).toSeq) { i =>
        val p = new org.apache.hadoop.fs.Path(s"$staging/shard=$i")
        if (fs.exists(p))
          buildIvfStore(spark.read.parquet(p.toString),
            s"$storeDir/shard=$i", nlist, iters, m, ksub, dim)
        else
          // in-place REBUILD whose new partition is empty: a previous
          // build's populated shard=<i> must not survive — its stale
          // vectors and old quantizer would silently serve the prior
          // corpus (r11 advice)
          fs.delete(new org.apache.hadoop.fs.Path(s"$storeDir/shard=$i"),
            true)
      }
      // a REBUILD with fewer shards than a previous build leaves stale
      // shard dirs past the new count — never searched (searches stop
      // at the recorded count), but deleting them keeps the store's
      // disk footprint equal to its contents
      val root = new org.apache.hadoop.fs.Path(storeDir)
      if (fs.exists(root)) fs.listStatus(root).foreach { c =>
        val nm = c.getPath.getName
        if (nm.startsWith("shard=") &&
            nm.stripPrefix("shard=").toIntOption.exists(_ >= sh))
          fs.delete(c.getPath, true)
      }
    } finally fs.delete(new org.apache.hadoop.fs.Path(staging), true)
    Seq(sh).toDF("shards").coalesce(1)
      .write.mode("overwrite").parquet(storeDir + "/sharding")
    sh
  }

  private def readShardCount(spark: SparkSession, storeDir: String): Int = {
    val p = new org.apache.hadoop.fs.Path(storeDir + "/sharding")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // absent record = never built OR a rebuild crashed mid-way (the
    // build invalidates it first, restores it last) — fail loudly
    // instead of letting a reader guess a shard count
    val why = "either it was never built or a mutation crashed mid-way " +
      "(the record is invalidated first and restored last)"
    require(fs.exists(p), s"sharded store $storeDir has no sharding record — $why")
    // a record whose write died before its data landed fails as loudly
    // and as typed as an absent one
    try spark.read.parquet(p.toString).collect().head.getInt(0)
    catch {
      case _: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException(
          s"sharded store $storeDir: the sharding record is unreadable — $why")
    }
  }

  /** Shard dirs that were actually built (the hash can leave a shard
    * empty on tiny corpora — it then has no store to search), with
    * their indices — the per-shard maintenance loop's iteration set
    * (streaming ingest advisories, compaction). */
  private[graft] def builtShardDirs(spark: SparkSession,
      storeDir: String): Seq[(Int, String)] = {
    val fs = new org.apache.hadoop.fs.Path(storeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    (0 until readShardCount(spark, storeDir))
      .map(i => (i, s"$storeDir/shard=$i"))
      .filter { case (_, d) => fs.exists(
        new org.apache.hadoop.fs.Path(d + "/centroids")) }
  }

  private def builtShards(spark: SparkSession,
      storeDir: String): Seq[String] =
    builtShardDirs(spark, storeDir).map(_._2)

  /** Raw encoded-row count per built shard in ONE scheduler job — the
    * split/merge shard pickers ran a per-shard count() chain, O(shards)
    * driver actions of pure fixed floor (guide §1.2). Each dir reads
    * under its own literal shard tag (a multi-root read would trip
    * partition discovery on the shard=/list_id= layers); a built shard
    * whose encoded table holds zero rows yields no group and reports
    * 0, exactly as its count() did. */
  private def shardEncodedCounts(spark: SparkSession,
      dirs: Seq[(Int, String)]): Seq[(Long, Int)] = {
    val counted =
      if (dirs.isEmpty) Map.empty[Int, Long]
      else dirs.map { case (i, d) =>
          spark.read.parquet(d + "/encoded").select(lit(i).as("_shard"))
        }.reduce(_ unionByName _)
        .groupBy("_shard").agg(count(lit(1)).as("_n"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    dirs.map { case (i, _) => (counted.getOrElse(i, 0L), i) }
  }

  /** Upper bound on concurrent per-shard prep threads — the prep jobs
    * are tiny (metadata reads + bounded collects), so past this width
    * extra threads only contend on the scheduler. */
  private val PerShardPrepThreads = 16

  /** Run per-shard work CONCURRENTLY — the candidate constructions
    * (a centroids read, a calibration read, a probed-list collect)
    * and, since r16, the per-shard MUTATION legs (prep, build,
    * append): each body is a chain of SMALL Spark jobs over ONE
    * shard's own dirs, and running the shards back to back
    * serializes those tiny jobs into the call's critical path — at
    * toy/CDC scale the mutation floor IS that job count, and at N
    * shards a serial loop makes every micro-batch O(N) fixed cost.
    * Concurrent actions on one SparkSession are a supported Spark
    * pattern; result ORDER is preserved (futures join in input
    * order), so unions/sums — and therefore the oracle hash — are
    * byte-identical to the sequential form (spec-asserted).
    *
    * Safe for the mutation legs because shard dirs are DISJOINT
    * (each shard owns its encoded/codes tables, tombstone log and
    * loc index; nothing cross-shard is written inside a leg) and the
    * one session-global toggle the loops used to share — the
    * dynamic-partition-overwrite conf — became a per-write option in
    * r16 (see rewriteWithoutTarget). The single-writer contract is
    * unchanged: this is one writer driving its independent per-shard
    * protocols concurrently, each with its own documented crash
    * windows; a failed shard leaves exactly the states a re-run
    * heals, as in the serial loop.
    *
    * Execution rides [[ControlPlane.parLegs]] (r17): dedicated
    * bounded pool (r11 advice — the bodies BLOCK on Spark actions),
    * per-call Spark job group with interrupt-on-cancel so the first
    * failing leg CANCELS its in-flight siblings' jobs (shutdownNow
    * alone only interrupted the threads; the submitted jobs kept
    * running — the r16 orphaned-leg advisory), and an all-legs join
    * before return so no leg outlives the call to race a later query
    * or session teardown. The await bound is the MUTATION timeout
    * (`graft.ann.mutationTimeoutSec`, default 24 h): these legs are
    * corpus-proportional builds/rewrites, which the old 900 s prep
    * bound could spuriously kill mid-mutation at production scale
    * (r16 advice); the search-path preps keep the short bound via
    * [[perShardCand]]. */
  private def perShardPar[A, B](spark: SparkSession, shards: Seq[A])(
      f: A => B): Seq[B] =
    ControlPlane.parLegs(spark, shards, PerShardPrepThreads,
      ControlPlane.mutationTimeoutSec(spark), "shard-mut")(f)

  /** Search-path per-shard candidate prep: tiny metadata reads and
    * bounded collects, awaited under the short prep bound
    * (`graft.ann.prepTimeoutSec`, default 900 s) — a shard wedged
    * past that is a fault, not progress. */
  private def perShardCand[A](spark: SparkSession, shards: Seq[A])(
      f: A => DataFrame): Seq[DataFrame] =
    ControlPlane.parLegs(spark, shards, PerShardPrepThreads,
      ControlPlane.prepTimeoutSec(spark), "shard-prep")(f)

  /**
   * Search a sharded store: every shard is probed independently
   * (`nprobe` per sub-quantizer; 0 = each shard's own persisted
   * calibration or constant share), the per-shard exactly-scored
   * candidates union at FULL precision, and one global top-k ranks
   * the union — an EXACT merge: a true global top-k neighbor lives in
   * exactly one shard and ranks at least as high within it, so the
   * merge loses nothing beyond each shard's own probe-recall
   * guarantee (exhaustive per-shard probing ⇒ exact global top-k,
   * spec-asserted). Identical result schema to [[searchIvfStore]].
   */
  def searchShardedIvfStore(spark: SparkSession, queries: DataFrame,
      storeDir: String, k: Int, nprobe: Int = 0): DataFrame = {
    val dirs = builtShards(spark, storeDir)
    require(dirs.nonEmpty, s"sharded store $storeDir has no built shards")
    topKRerank(
      perShardCand(spark, dirs)(storeProbeCand(spark, queries, _, nprobe))
        .reduce(_ unionByName _), k)
  }

  /** [[searchIvfStoreAdc]] over a sharded store: per-shard ADC
    * shortlists re-score exactly within their shard, union at full
    * precision, one global k-ranking — the same exact-merge argument
    * as [[searchShardedIvfStore]], on top of each shard's own
    * shortlist guarantee. */
  def searchShardedIvfStoreAdc(spark: SparkSession, queries: DataFrame,
      storeDir: String, k: Int, nprobe: Int = 0,
      candN: Int = 20): DataFrame = {
    val dirs = builtShards(spark, storeDir)
    require(dirs.nonEmpty, s"sharded store $storeDir has no built shards")
    adcFinalRank(
      perShardCand(spark, dirs)(
        storeAdcExact(spark, queries, _, nprobe, candN, k))
        .reduce(_ unionByName _), k)
  }

  /** Route a day's new vectors to their hash shard and append each
    * slice with the shard's STORED quantizer ([[appendToIvfStore]]'s
    * idempotency per shard). A batch routed to a shard the build left
    * empty fails loudly — that shard has no quantizer; rebuild the
    * store (the hash split makes this vanishingly rare past toy
    * sizes). */
  def appendToShardedIvfStore(spark: SparkSession, newVecs: DataFrame,
      storeDir: String): Unit = {
    require(!isRoutedStore(spark, storeDir),
      s"store $storeDir is ROUTED (cluster-disjoint shards) — the hash " +
        "rule would file vectors into shards the router never probes " +
        "(silent recall loss); use appendToRoutedIvfStore")
    val sh = readShardCount(spark, storeDir)
    appendStaged(spark, newVecs, storeDir, sh, shardOf(col("vec_id"), sh))
  }

  /** Shared append staging for the sharded/routed stores: assign the
    * batch's shard column ONCE into a persisted frame and feed each
    * shard a filter of the CACHED assignment. Previously each shard
    * re-evaluated the assignment over the WHOLE batch — O(shards)
    * full passes per streaming micro-batch, painful when the
    * assignment is the routed store's argmax over super-centroids
    * (r11 advice; the advice's partitionBy-staging alternative was
    * measured and loses at streaming batch sizes — the parquet
    * write+read roundtrip costs more than `shards` scans of a cached
    * micro-batch, see SCALING.md r12). A batch row routed to a shard
    * the build left empty fails loudly — that shard has no quantizer
    * to encode with. Idempotency is untouched: each
    * [[appendToIvfStore]] still anti-joins its slice against the
    * shard's stored ids, so a crash after SOME shards appended heals
    * on replay (the done shards admit nothing). */
  private def appendStaged(spark: SparkSession, newVecs: DataFrame,
      storeDir: String, sh: Int, shardCol: Column): Unit = {
    import org.apache.spark.storage.StorageLevel
    val fs = new org.apache.hadoop.fs.Path(storeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val assigned = newVecs
      .select(col("vec_id"), col("embedding"), shardCol.as("shard"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // bounded driver collect: at most `sh` ints — which shards this
      // batch touches at all (the per-row routing stays distributed)
      val present = assigned.select("shard").distinct()
        .collect().map(_.getInt(0)).sorted
      // the no-quantizer check runs for EVERY touched shard BEFORE any
      // append starts: the serial loop refused before appending to any
      // shard past the bad one, the parallel form refuses before
      // touching any shard at all — strictly no-worse mutation state
      // on the failure path
      present.foreach { i =>
        require(fs.exists(new org.apache.hadoop.fs.Path(
          s"$storeDir/shard=$i/centroids")),
          s"store $storeDir: batch routes rows to shard $i, which " +
            "the build left empty (no quantizer) — rebuild the store")
      }
      // per-shard appends run CONCURRENTLY (r16) — disjoint shard
      // dirs, all slices filter the one persisted assignment; see
      // perShardPar
      perShardPar(spark, present.toSeq) { i =>
        appendToIvfStore(spark,
          assigned.filter(col("shard") === i).drop("shard"),
          s"$storeDir/shard=$i")
      }
    } finally assigned.unpersist(blocking = false)
  }

  /** Calibrate every built shard ([[calibrateIvfStore]] per shard dir)
    * so the sharded searches' `nprobe = 0` resolves to each shard's
    * own measured operating point. Per-shard recall is measured
    * against the shard's OWN top-k truth; a global top-k neighbor
    * ranks at least as high inside its shard, so the per-shard target
    * is the right local contract. Returns the per-shard chosen
    * depths. */
  def calibrateShardedIvfStore(spark: SparkSession, storeDir: String,
      queries: DataFrame, k: Int, targetRecall: Double = 0.9,
      sampleN: Int = 32): Seq[Int] =
    builtShards(spark, storeDir).map(
      calibrateIvfStore(spark, _, queries, k, targetRecall, sampleN))

  // ---- Routed sharded IVF store (cluster-disjoint shards) ----

  /** True iff `storeDir` holds a ROUTED sharded store (cluster-disjoint
    * shards under a super-quantizer) rather than a hash-disjoint one —
    * the two must never be appended to or routed with the other's
    * assignment rule. */
  def isRoutedStore(spark: SparkSession, storeDir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(storeDir + "/super_centroids")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def readSuper(spark: SparkSession,
      storeDir: String): Seq[(Int, Seq[Double])] = {
    require(isRoutedStore(spark, storeDir),
      s"store $storeDir has no super-quantizer — it is a hash-disjoint " +
        "sharded store (or not sharded at all); use the unrouted " +
        "search/append, or rebuild with buildRoutedIvfStore")
    // an existing-but-torn record (a mutation died mid-restore: after
    // the overwrite's delete, before its commit) must fail as loudly
    // and as TYPED as an absent one — not as a schema-inference error
    val rows = try {
      readCentroidsAt(spark, storeDir + "/super_centroids")
    } catch {
      case _: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException(
          s"store $storeDir: the super-quantizer record exists but is " +
            "unreadable — a mutation crashed mid-restore; resume the " +
            "staged split if one exists, else rebuild the store")
    }
    require(rows.nonEmpty,
      s"store $storeDir: the super-quantizer record is empty — a " +
        "mutation crashed mid-restore; resume the staged split if one " +
        "exists, else rebuild the store")
    rows
  }

  /**
   * [[buildShardedIvfStore]] with CLUSTER-DISJOINT shards — the lever
   * that converts sharding from a capacity knob into a per-query COST
   * knob. Hash sharding spreads every neighborhood uniformly, so a
   * correct search must probe every shard: per-query cost × shards.
   * Here a SUPER-QUANTIZER (one md5-picked — optionally k-means
   * trained — centroid per shard, the same bounded-collect discipline
   * as the per-list quantizers, one level up) assigns each item to the
   * shard of its nearest super-centroid: neighborhoods land together,
   * so a query only needs the few shards whose super-centroids it is
   * close to ([[searchRoutedIvfStore]] probes a calibrated subset —
   * the exact analog, one level up, of what nprobe calibration does
   * inside one store).
   *
   * Layout: the hash-sharded layout plus `<storeDir>/super_centroids`
   * (same (lid, cv) schema as a store's centroids — its presence marks
   * the store ROUTED) and, after [[calibrateRoutedIvfStore]],
   * `<storeDir>/routing` with the measured route depth. Every
   * single-store tool (advice, stats, compaction, per-shard nprobe
   * calibration via [[calibrateShardedIvfStore]]) applies unchanged.
   *
   * I/O shape: identical to the hash build — ONE corpus pass assigns
   * and stages `partitionBy(shard)`, per-shard builds read only their
   * partition. Cluster shards CAN skew (a hot super-centroid owns more
   * items than others) — each shard's own adaptive nlist absorbs
   * moderate skew, and [[ivfStoreAdvice]] per shard dir flags a shard
   * that outgrows its quantizer; `superIters > 0` (Lloyd refinement of
   * the super-quantizer) is the build-time balance lever.
   *
   * Rebuild atomicity: the sharding record, super-quantizer, and
   * routing calibration are invalidated FIRST and restored LAST, so a
   * crashed rebuild leaves readers failing loudly, never routing with
   * a stale super-quantizer over re-clustered shards. Returns the
   * shard count.
   */
  def buildRoutedIvfStore(corpus: DataFrame, storeDir: String,
      shards: Int = 0, nlist: Int = 0, iters: Int = 0, m: Int = 0,
      ksub: Int = 8, dim: Int = 64, superIters: Int = 0): Int = {
    val spark = corpus.sparkSession
    import spark.implicits._
    import org.apache.spark.storage.StorageLevel
    val sh = if (shards > 0) shards else adaptiveIvfShards(corpus.count())
    val staging = storeDir + "/_byshard"
    val fs = new org.apache.hadoop.fs.Path(storeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a full in-place rebuild supersedes a staged split/merge: the
    // rebuild re-files the ENTIRE caller-supplied corpus, so a crashed
    // rebalance's recovery copy is moot — drop it rather than refuse
    fs.delete(new org.apache.hadoop.fs.Path(splitStagingDir(storeDir)), true)
    fs.delete(new org.apache.hadoop.fs.Path(mergeStagingDir(storeDir)), true)
    // invalidate-first (see buildShardedIvfStore): a crash mid-rebuild
    // must fail readers loudly on the missing records — for a ROUTED
    // store that includes the super-quantizer and the routing
    // calibration, both meaningless over partially rebuilt shards
    Seq("sharding", "super_centroids", "routing", "routing_curve")
      .foreach(f => fs.delete(
        new org.apache.hadoop.fs.Path(s"$storeDir/$f"), true))
    val supers =
      if (superIters > 0) {
        val cp = unitVecs(corpus, "item_id", "item_vec")
          .persist(StorageLevel.MEMORY_AND_DISK)
        try trainCentroids(cp, hashPickCentroids(cp, sh), superIters)
        finally cp.unpersist(blocking = false)
      } else hashPickCentroids(
        unitVecs(corpus, "item_id", "item_vec"), sh)
    corpus.select(col("vec_id"), col("embedding"),
        assignList(supers, V.unitVec(col("embedding"))).as("shard"))
      .write.mode("overwrite").partitionBy("shard").parquet(staging)
    try {
      // per-shard builds run CONCURRENTLY (r16) — see
      // buildShardedIvfStore / perShardPar
      perShardPar(spark, (0 until sh).toSeq) { i =>
        val p = new org.apache.hadoop.fs.Path(s"$staging/shard=$i")
        if (fs.exists(p))
          buildIvfStore(spark.read.parquet(p.toString),
            s"$storeDir/shard=$i", nlist, iters, m, ksub, dim)
        else
          // see buildShardedIvfStore: an in-place rebuild must not let
          // a previous build's populated shard=<i> survive an empty
          // new partition (stale corpus under the new super-quantizer)
          fs.delete(new org.apache.hadoop.fs.Path(s"$storeDir/shard=$i"),
            true)
      }
      val root = new org.apache.hadoop.fs.Path(storeDir)
      if (fs.exists(root)) fs.listStatus(root).foreach { c =>
        val nm = c.getPath.getName
        if (nm.startsWith("shard=") &&
            nm.stripPrefix("shard=").toIntOption.exists(_ >= sh))
          fs.delete(c.getPath, true)
      }
    } finally fs.delete(new org.apache.hadoop.fs.Path(staging), true)
    supers.toDF("lid", "cv").coalesce(1)
      .write.mode("overwrite").parquet(storeDir + "/super_centroids")
    Seq(sh).toDF("shards").coalesce(1)
      .write.mode("overwrite").parquet(storeDir + "/sharding")
    sh
  }

  /** The persisted routing calibration, if any:
    * (route_shards, n_items, n_shards) as measured. */
  private def readRouting(spark: SparkSession,
      storeDir: String): Option[(Int, Long, Int)] = {
    val p = new org.apache.hadoop.fs.Path(storeDir + "/routing")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else spark.read.parquet(p.toString).collect().headOption
      .map(r => (r.getAs[Int]("route_shards"), r.getAs[Long]("n_items"),
        r.getAs[Int]("n_shards")))
  }

  /** Resolve a routed search's `routeShards = 0` ("derive it"): the
    * persisted routing calibration when one exists AND was measured
    * against this super-quantizer (same shard count — a rebuilt super
    * reorders every route rank); else ALL shards — recall-safe, the
    * unrouted cost, and [[routedStoreAdvice]] flags the missing
    * calibration. `routing_curve` is deliberately NOT consulted (r12
    * review of this seam): it is a write-only measurement record, so
    * a curve surviving a vacuumed/invalidated `routing` is inert —
    * the fallback stays all-shards, never a depth re-derived from a
    * possibly-stale curve. */
  private def resolveRouteDepth(spark: SparkSession, storeDir: String,
      routeShards: Int, nShards: Int): Int =
    if (routeShards > 0) math.min(routeShards, nShards)
    else readRouting(spark, storeDir) match {
      case Some((r, _, calShards)) if calShards == nShards =>
        math.min(math.max(1, r), nShards)
      case other =>
        if (other.isDefined)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"routed store $storeDir: routing was calibrated against " +
              s"${other.get._3} shards but the store now has $nShards — " +
              "ignoring it (recalibrate); probing all shards")
        nShards
    }

  /** Each query's routed shards: the `depth` shards whose
    * super-centroids score highest for the query (d DESC, shard-id
    * DESC tiebreak — the canonical probe order, one level up). */
  private def queryRoutes(q: DataFrame, supers: Seq[(Int, Seq[Double])],
      depth: Int): DataFrame =
    q.select(col("query_id"),
        explode(slice(reverse(array_sort(centScores(supers, col("query_vec")))),
          1, depth)).as("probe"))
      .select(col("query_id"), col("probe.lid").as("shard"))

  /** The routed candidate union: per routed shard, the queries ROUTED
    * there (a broadcast semi-join against the route table — queries
    * the router sent elsewhere never touch this shard's lists) run the
    * per-store candidate stage; shards no query routes to are never
    * opened. `perShard` is the store-level candidate stage
    * ([[storeProbeCand]] or [[storeAdcExact]] curried). */
  private def routedCand(spark: SparkSession, queries: DataFrame,
      storeDir: String, routeShards: Int,
      perShard: (DataFrame, String) => DataFrame): DataFrame = {
    val supers = readSuper(spark, storeDir)
    val dirs = builtShardDirs(spark, storeDir).toMap
    require(dirs.nonEmpty, s"routed store $storeDir has no built shards")
    val depth = resolveRouteDepth(spark, storeDir, routeShards, supers.size)
    val routes = queryRoutes(
      unitVecs(queries, "query_id", "query_vec"), supers, depth)
    // bounded driver collect: at most `shards` ints — which shard dirs
    // this query batch needs at all (the per-query assignment stays a
    // distributed semi-join below)
    val routedIdx = routes.select("shard").distinct()
      .collect().map(_.getInt(0)).sorted.toSeq
    val routedDirs = routedIdx.flatMap(i => dirs.get(i).map((i, _)))
    val cands = perShardCand(spark, routedDirs) { case (i, d) =>
      val qi = queries.join(
        routes.filter(col("shard") === i)
          .select(col("query_id").as("vec_id")),
        Seq("vec_id"), "left_semi")
      perShard(qi, d)
    }
    require(cands.nonEmpty,
      s"routed store $storeDir: no routed shard was ever built — " +
        "rebuild the store (the super-quantizer routes every query to " +
        "empty shards)")
    cands.reduce(_ unionByName _)
  }

  /**
   * Search a ROUTED sharded store: each query is routed to the
   * `routeShards` shards whose super-centroids it scores highest
   * (0 = the store's calibrated route depth, or all shards when never
   * calibrated — the recall-safe fallback), and only those shards'
   * lists are probed ([[searchIvfStore]] semantics per shard, each
   * shard's own nprobe resolution applying). Per-shard exact-scored
   * candidates union at full precision into one global top-k.
   *
   * Cost vs [[searchShardedIvfStore]]: probed-shard share =
   * routeShards / shards per query instead of 1 — the per-query cost
   * multiplier the hash-sharded store carries is gone. Recall: a true
   * neighbor is missed iff its shard is outside the query's routed
   * set; cluster-disjoint assignment makes that the same tail event
   * as an unprobed list inside one store, and
   * [[calibrateRoutedIvfStore]] MEASURES it — routeShards = shards
   * reproduces the exhaustive sharded search exactly.
   */
  def searchRoutedIvfStore(spark: SparkSession, queries: DataFrame,
      storeDir: String, k: Int, nprobe: Int = 0,
      routeShards: Int = 0): DataFrame =
    topKRerank(routedCand(spark, queries, storeDir, routeShards,
      (q, d) => storeProbeCand(spark, q, d, nprobe)), k)

  /** [[searchIvfStoreAdc]] over a routed store: routed shards only,
    * per-shard ADC shortlists re-score exactly within their shard,
    * union at full precision, one global k-ranking. */
  def searchRoutedIvfStoreAdc(spark: SparkSession, queries: DataFrame,
      storeDir: String, k: Int, nprobe: Int = 0, candN: Int = 20,
      routeShards: Int = 0): DataFrame =
    adcFinalRank(routedCand(spark, queries, storeDir, routeShards,
      (q, d) => storeAdcExact(spark, q, d, nprobe, candN, k)), k)

  /** Route a day's new vectors with the STORED super-quantizer (the
    * routing contract — retraining it would strand every already-
    * stored item) and append each slice with its shard's stored
    * sub-quantizer. The exact analog of [[appendToShardedIvfStore]]
    * for cluster-disjoint stores; refuses a hash store loudly. */
  def appendToRoutedIvfStore(spark: SparkSession, newVecs: DataFrame,
      storeDir: String): Unit = {
    requireNoStagedSplit(spark, storeDir)
    val supers = readSuper(spark, storeDir)
    val sh = readShardCount(spark, storeDir)
    // takedown wins STORE-WIDE (r13 review of this seam): a tombstone
    // lives in the shard that HELD the row, but a routed append files
    // by the batch row's VECTOR — a late re-delivery of a taken-down
    // id whose vector routes to a different shard (the upstream
    // re-encoded it, or the router changed across a split/merge)
    // would sail past that shard's per-shard exclusion and resurrect
    // the item. Anti-join the batch against the UNION of every built
    // shard's standing tombstones — takedown-sized per shard, so the
    // union broadcasts. Hash-sharded appends don't need this: the id
    // arithmetic files a re-delivery into exactly the shard holding
    // its tombstone.
    val batch = builtShardDirs(spark, storeDir)
      .flatMap { case (_, d) => readDeleted(spark, d) }
      .reduceOption(_ unionByName _) match {
        case Some(dead) => newVecs.join(
          broadcast(dead.select(col("item_id").as("vec_id"))),
          Seq("vec_id"), "left_anti")
        case None => newVecs
      }
    appendStaged(spark, batch, storeDir, sh,
      assignList(supers, V.unitVec(col("embedding"))))
  }

  /**
   * Incremental hot-shard rebalance for a ROUTED store — the skew
   * remedy short of a full rebuild. Cluster-disjoint shards skew when
   * one super-centroid owns a disproportionate share of the corpus
   * (measured 1.5–1.75× at 16 clusters / 4 shards, SCALING.md); at
   * 10⁸+ vectors that hot shard is both the per-query tail latency and
   * the append hotspot, and until now the only lever was
   * [[buildRoutedIvfStore]] from scratch (`superIters > 0`).
   *
   * This splits ONLY the worst shard: a 2-means over the hot shard's
   * own stored vectors (md5-picked init + `splitIters` Lloyd rounds —
   * the store family's one bounded-collect training discipline)
   * replaces the hot super-centroid with one child and appends the
   * other as a NEW shard index; then only the hot shard's items are
   * re-filed — by GLOBAL argmax over the new super set, so a hot-shard
   * item the split reveals to be nearer an untouched shard's centroid
   * migrates there (an [[appendToIvfStore]] straggler append) instead
   * of lingering misfiled. ONLY the hot shard's items are re-filed: a
   * COLD shard's item whose global argmax moves to one of the new
   * child centroids stays where it was, so after a split the
   * nearest-super invariant is exact for re-filed items but only
   * approximate store-wide. Exhaustive search (`routeShards = shards`)
   * stays exact regardless; an explicit partial `routeShards <
   * shards` can lose recall on such moved-argmax items until
   * [[calibrateRoutedIvfStore]] re-measures the curve (the split
   * invalidates the routing record precisely so `routeShards = 0`
   * can never consume a pre-split depth). Untouched shards' data is
   * never rewritten: the work is proportional to the HOT shard's
   * size, not the corpus (the incremental-maintenance contract; cost
   * measured vs full rebuild in SCALING.md).
   *
   * Convergence is over REPEATED applications, not one shot (the
   * measured trajectory is SCALING.md's "Hot-shard rebalance"
   * entry): 2-means on a hot shard
   * holding a dominant cluster plus a minority cluster settles on the
   * cluster separation — it PEELS the minority first, and only a later
   * split bisects the dominant mass. Each call costs ∝ the then-hot
   * shard; watch per-shard sizes / [[routedStoreAdvice]] and stop when
   * balanced.
   *
   * Crash story — invalidate-first like the rebuild, PLUS a staged
   * recovery copy: all fallible compute (training, the staged
   * re-assignment, the staged new super set and meta) runs FIRST
   * while the store stays fully live; the staging's `meta` marker is
   * the point of no return. Past it the records (routing,
   * super-quantizer, sharding) are invalidated, the shard dirs
   * mutate, the new records are written LAST, and the staging is
   * deleted ONLY after full success — a death (or a caught failure)
   * in any mutation window leaves readers failing loudly and the
   * staging in place as the recovery copy; [[resumeSplitHotShard]]
   * re-applies it idempotently (real-process death coverage:
   * SplitCrashSpec). Appends refuse to run over a staged split. The
   * routing calibration is invalidated by design (route ranks
   * change); run [[calibrateRoutedIvfStore]] after, and
   * [[calibrateShardedIvfStore]] refreshes the two rebuilt shards'
   * nprobe points (fresh dirs fall back to the constant probed share
   * until then).
   *
   * CONCURRENCY (r13 review of this seam): the staged-split guard
   * protects against mutations AFTER a crash, not DURING the split — a
   * routed append racing a live split can write rows into the hot dir
   * after its items were staged and lose them with the dir delete. The
   * store family is SINGLE-WRITER by contract (same as a rebuild);
   * quiesce appends for the split's maintenance window. Concurrent
   * READERS get the invalidate-first guarantee: loud failure, never a
   * silently partial corpus.
   *
   * PQ config is detected from the hot shard dir (its books fix m,
   * ksub, dim), so the rebuilt shards match the store's existing
   * layout without the caller re-stating build params. `shard = -1`
   * picks the largest built shard. Returns the new shard count.
   */
  def splitHotShard(spark: SparkSession, storeDir: String,
      shard: Int = -1, splitIters: Int = 4, nlist: Int = 0,
      iters: Int = 0): Int = ControlPlane(spark) { spark =>
    // in the control-plane session: the split's joins are
    // broadcast-pinned (tombstone antis, re-delivery antis) and its
    // aggregates are hot-shard-bounded — AQE's per-stage
    // materialization is pure driver latency here, the same argument
    // and measurement as the CDC mutations (ControlPlane scaladoc)
    val staged = stageSplit(spark, storeDir, shard, splitIters, nlist, iters)
    val fs = new org.apache.hadoop.fs.Path(storeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    applySplitStaging(spark, storeDir, fs, Some(staged))
  }

  /** What a staged split/merge recorded — returned by the stage halves
    * so the DIRECT path can hand it to the apply half without
    * re-collecting the meta and supers it just wrote (two driver
    * actions per rebalance of pure fixed floor, guide §1.2); the
    * RESUME path still reads everything from the staging, which stays
    * the single source of truth after a crash. */
  private[graft] final case class StagedRebalance(
      a: Int, b: Int, shards: Int, m: Int, ksub: Int, dim: Int,
      nlist: Int, iters: Int, lastBuilt: Boolean,
      supers: Seq[(Int, Seq[Double])])

  /** The split's fallible-compute half: train, stage the
    * re-assignment, stage the new super set, land the `meta` marker —
    * the store is untouched and fully live throughout. Package-private
    * seam so the crash specs (and graft.tools.CrashWriter's real-JVM
    * death modes) can drive the mutation to a precise window. */
  private[graft] def stageSplit(spark: SparkSession, storeDir: String,
      shard: Int = -1, splitIters: Int = 4, nlist: Int = 0,
      iters: Int = 0): StagedRebalance = {
    import spark.implicits._
    requireNoStagedSplit(spark, storeDir)
    val supers = readSuper(spark, storeDir)
    val sh = readShardCount(spark, storeDir)
    val dirs = builtShardDirs(spark, storeDir)
    require(dirs.nonEmpty, s"routed store $storeDir has no built shards")
    val hot =
      if (shard >= 0) shard
      else shardEncodedCounts(spark, dirs).max._2
    val hotDir = dirs.toMap.getOrElse(hot, throw new IllegalArgumentException(
      s"routed store $storeDir: shard $hot is not built — nothing to split"))
    val fs = new org.apache.hadoop.fs.Path(storeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the rebuilt shards must match the store's existing layout
    val (m, ksub, dim) =
      if (fs.exists(new org.apache.hadoop.fs.Path(hotDir + "/books"))) {
        val books = readBooks(spark, hotDir)
        (books.size, books.head.size, books.size * books.head.head.size)
      } else (0, 8, 64)
    // LIVE items only: tombstoned rows neither train the children nor
    // re-file — the split doubles as the hot shard's physical reclaim
    // (the hot dir is replaced wholesale, its tombstones die with it).
    // PERSISTED for the stage's lifetime (guide §5): the gate count,
    // the 2-means init pick, every Lloyd round and the staged items
    // write all evaluate this frame — unpersisted, each one re-ran the
    // encoded scan plus the tombstone anti-join (nothing mutates the
    // store during staging, so the cached plan can never go stale).
    val hotItems = minusDeleted(spark,
      spark.read.parquet(hotDir + "/encoded"), hotDir, "item_id")
      .select("item_id", "item_vec")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // ---- fallible compute first: store stays fully live through it ----
      // the 2-means init pick doubles as the ≥2-items gate (one driver
      // action instead of a count + pick pair): limit(2) returns
      // exactly min(2, live rows) picks
      val init = hashPickCentroids(hotItems, 2)
      require(init.size >= 2,
        s"routed store $storeDir: shard $hot holds fewer than 2 items — " +
          "nothing to split")
      val children = trainCentroids(hotItems, init, math.max(1, splitIters))
      val newSupers = supers.map { case (lid, cv) =>
        if (lid == hot) (hot, children(0)._2) else (lid, cv)
      } :+ (sh, children(1)._2)
      val staging = splitStagingDir(storeDir)
      hotItems
        .select(col("item_id").as("vec_id"), col("item_vec").as("embedding"),
          assignList(newSupers, col("item_vec")).as("shard"))
        .write.mode("overwrite").partitionBy("shard")
        .parquet(staging + "/items")
      newSupers.toDF("lid", "cv").coalesce(1)
        .write.mode("overwrite").parquet(staging + "/supers")
      // meta lands LAST: its presence is the completeness marker AND
      // the point of no return — everything the mutation needs (which
      // shard is hot, the old shard count, the store's PQ layout, the
      // rebuild knobs) is now derivable from the staging alone, so a
      // crash anywhere past this line is recovered by re-running the
      // mutation from the staging ([[resumeSplitHotShard]]), never by
      // discarding it: once the hot dir is deleted the staging holds
      // the ONLY copy of the hot shard's vectors.
      Seq((hot, sh, m, ksub, dim, nlist, iters))
        .toDF("hot", "shards", "m", "ksub", "dim", "nlist", "iters")
        .coalesce(1).write.mode("overwrite").parquet(staging + "/meta")
      StagedRebalance(hot, -1, sh, m, ksub, dim, nlist, iters,
        lastBuilt = false, supers = newSupers.sortBy(_._1))
    } finally hotItems.unpersist(blocking = false)
  }

  private def splitStagingDir(storeDir: String): String =
    storeDir + "/_split_staging"

  private def mergeStagingDir(storeDir: String): String =
    storeDir + "/_merge_staging"

  /** Mutations on a routed store refuse to run over a staged split or
    * merge — after a rebalance crash the staging is the RECOVERY COPY
    * of the mutated shards' vectors, and resuming it rewinds the shard
    * dirs to the staged assignment, which would silently drop anything
    * appended (and resurrect anything deleted) in between.
    * [[resumeSplitHotShard]] / [[resumeMergeColdShards]] are the one
    * way forward. */
  private def requireNoStagedSplit(spark: SparkSession,
      storeDir: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(storeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val split = new org.apache.hadoop.fs.Path(splitStagingDir(storeDir))
    val merge = new org.apache.hadoop.fs.Path(mergeStagingDir(storeDir))
    require(!fs.exists(split),
      s"routed store $storeDir holds a staged split ($split): a previous " +
        "splitHotShard crashed mid-mutation and the staging is the " +
        "recovery copy of the split shard's vectors — run " +
        "resumeSplitHotShard(spark, storeDir) before mutating the store")
    require(!fs.exists(merge),
      s"routed store $storeDir holds a staged merge ($merge): a previous " +
        "mergeColdShards crashed mid-mutation and the staging is the " +
        "recovery copy of the merged shards' vectors — run " +
        "resumeMergeColdShards(spark, storeDir) before mutating the store")
  }

  /** The split's point-of-no-return block, driven ENTIRELY from the
    * staging so it can re-run after a crash in any window: invalidate
    * the records first (readers fail loudly, never route against dirs
    * mid-mutation), delete the hot shard dir, re-file every staged
    * slice (fresh dirs rebuild — [[buildIvfStore]] overwrites a
    * partial prior attempt; straggler appends to untouched shards are
    * re-delivery-safe by [[appendToIvfStore]]'s anti-join), restore
    * the records last, and ONLY THEN drop the staging. Every step is
    * idempotent, so the recovery action for a death in any window is
    * simply to run it again. */
  private[graft] def applySplitStaging(spark: SparkSession, storeDir: String,
      fs: org.apache.hadoop.fs.FileSystem,
      staged: Option[StagedRebalance] = None): Int = {
    import spark.implicits._
    val staging = splitStagingDir(storeDir)
    // direct path: the caller just wrote the staging and hands its
    // content over; resume path: the staging on disk is the only
    // source of truth, read it back
    val st = staged.getOrElse {
      val meta = spark.read.parquet(staging + "/meta").collect().head
      StagedRebalance(meta.getAs[Int]("hot"), -1,
        meta.getAs[Int]("shards"), meta.getAs[Int]("m"),
        meta.getAs[Int]("ksub"), meta.getAs[Int]("dim"),
        meta.getAs[Int]("nlist"), meta.getAs[Int]("iters"),
        lastBuilt = false,
        supers = spark.read.parquet(staging + "/supers").collect()
          .map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1).toSeq)
    }
    val (hot, sh) = (st.a, st.shards)
    val (m, ksub, dim) = (st.m, st.ksub, st.dim)
    val (nlist, iters) = (st.nlist, st.iters)
    val newSupers = st.supers
    // ---- invalidate-first, mutate, restore-last ----
    Seq("sharding", "super_centroids", "routing", "routing_curve")
      .foreach(f => fs.delete(
        new org.apache.hadoop.fs.Path(s"$storeDir/$f"), true))
    fs.delete(new org.apache.hadoop.fs.Path(s"$storeDir/shard=$hot"), true)
    // the staged slices re-file CONCURRENTLY (r17): each leg reads its
    // own staged shard=j slice and writes only $storeDir/shard=j —
    // disjoint dirs, the perShardPar safety argument; the serial loop
    // put O(new shards) × the per-shard build/append job chain on the
    // split's critical path (guide §2.6)
    perShardPar(spark, (0 until sh + 1).toSeq) { j =>
      val p = new org.apache.hadoop.fs.Path(s"$staging/items/shard=$j")
      if (fs.exists(p)) {
        val slice = spark.read.parquet(p.toString)
        val dir = s"$storeDir/shard=$j"
        if (AnnLocIndex.hasDataFiles(fs, new org.apache.hadoop.fs.Path(dir + "/centroids")))
          // a straggler whose global argmax moved to an untouched
          // shard — filed with that shard's STORED quantizer
          appendToIvfStore(spark, slice, dir)
        else
          buildIvfStore(slice, dir, nlist, iters, m, ksub, dim)
      }
    }
    newSupers.toDF("lid", "cv").coalesce(1)
      .write.mode("overwrite").parquet(storeDir + "/super_centroids")
    Seq(sh + 1).toDF("shards").coalesce(1)
      .write.mode("overwrite").parquet(storeDir + "/sharding")
    // success only — on ANY failure above the staging survives as the
    // recovery copy; a caught exception must not be more destructive
    // than a hard crash
    fs.delete(new org.apache.hadoop.fs.Path(staging), true)
    sh + 1
  }

  /** Recover a [[splitHotShard]] that died mid-mutation. Two cases,
    * decided by the staging's completeness marker: (a) the crash
    * happened BEFORE the point of no return (no `meta`) — the store
    * was never touched, the incomplete staging is debris; it is
    * removed and this throws, telling the caller to re-run the split.
    * (b) the crash happened during the mutation (`meta` present) —
    * the staged re-assignment re-applies idempotently
    * ([[applySplitStaging]]) and the store ends exactly where the
    * original split would have: records restored, staging gone,
    * calibrations invalidated (recalibrate after, as for any split).
    * Safe to call repeatedly; each death window lands in one of the
    * two cases. Real-process death coverage: SplitCrashSpec. */
  def resumeSplitHotShard(spark: SparkSession,
      storeDir: String): Int = ControlPlane(spark) { spark =>
    val fs = new org.apache.hadoop.fs.Path(storeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = splitStagingDir(storeDir)
    require(fs.exists(new org.apache.hadoop.fs.Path(staging)),
      s"routed store $storeDir: no staged split to resume")
    // the `meta` marker is whole once its one data file is in: a
    // death inside its write leaves no data file
    if (!AnnLocIndex.hasDataFiles(fs, new org.apache.hadoop.fs.Path(staging + "/meta"))) {
      fs.delete(new org.apache.hadoop.fs.Path(staging), true)
      throw new IllegalStateException(
        s"routed store $storeDir: the staged split died before its " +
          "point of no return — the store is intact and the incomplete " +
          "staging has been removed; re-run splitHotShard")
    }
    applySplitStaging(spark, storeDir, fs)
  }

  /**
   * Incremental cold-shard consolidation for a ROUTED store — the
   * INVERSE of [[splitHotShard]], closing the shard-count monotonicity
   * gap: splits only ever grow the shard set, and the streaming-ingest
   * soak measured per-shard FIXED job cost dominating small batches —
   * after drift or deletes, cold/underfull shards inflate every
   * query's fixed cost for no recall benefit. This merges exactly TWO
   * shards (the two smallest built ones when `a`/`b` are -1): their
   * LIVE items union under one merged super-centroid (the measured
   * mean of the union's unit vectors — one aggregate over data the
   * staging reads anyway, not a drift-blind average of the two stored
   * centroids), and the union re-files by GLOBAL argmax over the new
   * super set — same contract as the split: an item the merge reveals
   * to be nearer an untouched shard's centroid migrates there, and the
   * nearest-super invariant is exact for re-filed items, approximate
   * store-wide (see [[splitHotShard]]'s recall caveat).
   *
   * Shard ids stay DENSE: the merged shard takes id `a`; the last
   * shard moves into `b`'s slot by a directory rename (its per-shard
   * calibration travels with the dir; no data is rewritten). Work is
   * proportional to the two merged shards, not the corpus; tombstones
   * of both merged dirs are physically reclaimed for free (LIVE items
   * only are staged, and the dirs are replaced wholesale).
   *
   * Crash story: identical to the split — staging (items by new
   * assignment + new supers + `meta` marker) lands first while the
   * store stays live; past the marker the records invalidate, the dirs
   * mutate, the records restore LAST, and the staging is reclaimed
   * only on full success. Any death window resumes via
   * [[resumeMergeColdShards]]; mutations refuse to run over the staged
   * merge. Routing calibration is invalidated by design — run
   * [[calibrateRoutedIvfStore]] after. Returns the new shard count.
   */
  def mergeColdShards(spark: SparkSession, storeDir: String,
      a: Int = -1, b: Int = -1, nlist: Int = 0,
      iters: Int = 0): Int = ControlPlane(spark) { spark =>
    // control-plane session: same argument as splitHotShard
    val staged = stageMerge(spark, storeDir, a, b, nlist, iters)
    val fs = new org.apache.hadoop.fs.Path(storeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    applyMergeStaging(spark, storeDir, fs, Some(staged))
  }

  /** The merge's fallible-compute half (see [[stageSplit]]): pick the
    * cold pair, train the merged centroid, stage the re-assignment and
    * the new dense super set, land the `meta` marker. Store untouched
    * and fully live throughout. */
  private[graft] def stageMerge(spark: SparkSession, storeDir: String,
      a: Int = -1, b: Int = -1, nlist: Int = 0,
      iters: Int = 0): StagedRebalance = {
    import spark.implicits._
    requireNoStagedSplit(spark, storeDir)
    val supers = readSuper(spark, storeDir)
    val sh = readShardCount(spark, storeDir)
    require(sh >= 3,
      s"routed store $storeDir has $sh shards — merging below 2 would " +
        "collapse routing entirely; rebuild unrouted instead")
    val dirs = builtShardDirs(spark, storeDir)
    require(dirs.size >= 2, s"routed store $storeDir has fewer than 2 " +
      "built shards — nothing to merge")
    val (lo, hi) =
      if (a >= 0 || b >= 0) {
        require(a >= 0 && b >= 0 && a != b && a < sh && b < sh,
          s"mergeColdShards: a=$a b=$b must be two distinct shard ids " +
            s"in [0, $sh)")
        (math.min(a, b), math.max(a, b))
      } else {
        val bySize = shardEncodedCounts(spark, dirs).sorted
        (math.min(bySize(0)._2, bySize(1)._2),
          math.max(bySize(0)._2, bySize(1)._2))
      }
    val dirMap = dirs.toMap
    require(dirMap.contains(lo) && dirMap.contains(hi),
      s"mergeColdShards: shards $lo and $hi must both be built")
    val fs = new org.apache.hadoop.fs.Path(storeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (m, ksub, dim) =
      if (fs.exists(new org.apache.hadoop.fs.Path(dirMap(lo) + "/books"))) {
        val books = readBooks(spark, dirMap(lo))
        (books.size, books.head.size, books.size * books.head.head.size)
      } else (0, 8, 64)
    // LIVE items of both shards — tombstones reclaimed with the dirs.
    // Persisted like the split's hotItems: the gate count, the
    // merged-centroid mean and the staged items write all evaluate
    // this union, and nothing mutates the store during staging.
    val union = Seq(lo, hi).map { i =>
      minusDeleted(spark, spark.read.parquet(dirMap(i) + "/encoded"),
        dirMap(i), "item_id").select("item_id", "item_vec")
    }.reduce(_ unionByName _)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // the 1-centroid init pick doubles as the ≥1-item gate (one
      // driver action instead of a count + pick pair)
      val init = hashPickCentroids(union, 1)
      require(init.nonEmpty,
        s"mergeColdShards: shards $lo+$hi hold no live items — delete " +
          "the dirs and rebuild instead")
      // merged centroid = measured mean of the union's unit vectors
      // (one Lloyd round with a single centroid IS that mean)
      val merged = trainCentroids(union, init, 1).head._2
      // dense new super set: merged centroid at lo, the LAST shard's
      // super moves into hi's slot (its dir renames the same way)
      val newSupers = supers
        .filter { case (lid, _) => lid != hi && lid != sh - 1 }
        .map { case (lid, cv) =>
          if (lid == lo) (lo, merged) else (lid, cv) } ++
        (if (hi == sh - 1) Nil
         else Seq((hi, supers.find(_._1 == sh - 1).get._2)))
      val staging = mergeStagingDir(storeDir)
      union
        .select(col("item_id").as("vec_id"), col("item_vec").as("embedding"),
          assignList(newSupers.sortBy(_._1), col("item_vec")).as("shard"))
        .write.mode("overwrite").partitionBy("shard")
        .parquet(staging + "/items")
      newSupers.sortBy(_._1).toDF("lid", "cv").coalesce(1)
        .write.mode("overwrite").parquet(staging + "/supers")
      // whether the LAST shard is built decides the rename step — and,
      // on resume, whether an absent shard=(sh-1) means "rename already
      // happened, shard=hi now holds its data, do NOT delete it" or
      // simply "never existed"
      val lastBuilt = hi != sh - 1 && dirMap.contains(sh - 1)
      // meta lands LAST — the point of no return (see stageSplit)
      Seq((lo, hi, sh, m, ksub, dim, nlist, iters, lastBuilt))
        .toDF("lo", "hi", "shards", "m", "ksub", "dim", "nlist", "iters",
          "last_built")
        .coalesce(1).write.mode("overwrite").parquet(staging + "/meta")
      StagedRebalance(lo, hi, sh, m, ksub, dim, nlist, iters, lastBuilt,
        supers = newSupers.sortBy(_._1))
    } finally union.unpersist(blocking = false)
  }

  /** The merge's point-of-no-return block, idempotent end to end (see
    * [[applySplitStaging]]): invalidate records, delete the two merged
    * dirs, rename the last shard into the freed slot (skipped when
    * already done — a resume must not rename twice), re-file every
    * staged slice, restore records, reclaim staging on success only. */
  private[graft] def applyMergeStaging(spark: SparkSession, storeDir: String,
      fs: org.apache.hadoop.fs.FileSystem,
      staged: Option[StagedRebalance] = None): Int = {
    import spark.implicits._
    val staging = mergeStagingDir(storeDir)
    // direct vs resume path — see applySplitStaging
    val st = staged.getOrElse {
      val meta = spark.read.parquet(staging + "/meta").collect().head
      StagedRebalance(meta.getAs[Int]("lo"), meta.getAs[Int]("hi"),
        meta.getAs[Int]("shards"), meta.getAs[Int]("m"),
        meta.getAs[Int]("ksub"), meta.getAs[Int]("dim"),
        meta.getAs[Int]("nlist"), meta.getAs[Int]("iters"),
        meta.getAs[Boolean]("last_built"),
        supers = spark.read.parquet(staging + "/supers").collect()
          .map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1).toSeq)
    }
    val (lo, hi, sh) = (st.a, st.b, st.shards)
    val (m, ksub, dim) = (st.m, st.ksub, st.dim)
    val (nlist, iters) = (st.nlist, st.iters)
    val newSupers = st.supers
    val lastBuilt = st.lastBuilt
    Seq("sharding", "super_centroids", "routing", "routing_curve")
      .foreach(f => fs.delete(
        new org.apache.hadoop.fs.Path(s"$storeDir/$f"), true))
    fs.delete(new org.apache.hadoop.fs.Path(s"$storeDir/shard=$lo"), true)
    // move the last shard into the freed slot (ids stay dense). The
    // delete of shard=hi is GATED on the rename not having happened
    // yet: on a resume after the rename, shard=hi already holds the
    // moved shard's data — whose ONLY copy it is (the staging holds
    // lo+hi items, not the last shard's) — so deleting it again would
    // be permanent loss. `last_built` (recorded at stage time)
    // disambiguates "source absent because the rename happened" from
    // "source never existed".
    if (lastBuilt) {
      val from = new org.apache.hadoop.fs.Path(s"$storeDir/shard=${sh - 1}")
      if (fs.exists(from)) {
        fs.delete(new org.apache.hadoop.fs.Path(s"$storeDir/shard=$hi"), true)
        require(fs.rename(from,
          new org.apache.hadoop.fs.Path(s"$storeDir/shard=$hi")),
          s"mergeColdShards: could not rename shard=${sh - 1} to " +
            s"shard=$hi — resolve and resumeMergeColdShards")
      } // else: resume after the rename — shard=hi is the moved shard
    } else
      fs.delete(new org.apache.hadoop.fs.Path(s"$storeDir/shard=$hi"), true)
    // staged slices re-file CONCURRENTLY — see applySplitStaging
    perShardPar(spark, (0 until sh - 1).toSeq) { j =>
      val p = new org.apache.hadoop.fs.Path(s"$staging/items/shard=$j")
      if (fs.exists(p)) {
        val slice = spark.read.parquet(p.toString)
        val dir = s"$storeDir/shard=$j"
        if (AnnLocIndex.hasDataFiles(fs, new org.apache.hadoop.fs.Path(dir + "/centroids")))
          appendToIvfStore(spark, slice, dir)
        else
          buildIvfStore(slice, dir, nlist, iters, m, ksub, dim)
      }
    }
    newSupers.toDF("lid", "cv").coalesce(1)
      .write.mode("overwrite").parquet(storeDir + "/super_centroids")
    Seq(sh - 1).toDF("shards").coalesce(1)
      .write.mode("overwrite").parquet(storeDir + "/sharding")
    fs.delete(new org.apache.hadoop.fs.Path(staging), true)
    sh - 1
  }

  /** Recover a [[mergeColdShards]] that died mid-mutation — the exact
    * analog of [[resumeSplitHotShard]]: no `meta` marker means the
    * store was never touched (debris removed, re-run the merge); with
    * the marker, [[applyMergeStaging]] re-applies idempotently. */
  def resumeMergeColdShards(spark: SparkSession,
      storeDir: String): Int = ControlPlane(spark) { spark =>
    val fs = new org.apache.hadoop.fs.Path(storeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = mergeStagingDir(storeDir)
    require(fs.exists(new org.apache.hadoop.fs.Path(staging)),
      s"routed store $storeDir: no staged merge to resume")
    // the `meta` marker is whole once its one data file is in: a
    // death inside its write leaves no data file
    if (!AnnLocIndex.hasDataFiles(fs, new org.apache.hadoop.fs.Path(staging + "/meta"))) {
      fs.delete(new org.apache.hadoop.fs.Path(staging), true)
      throw new IllegalStateException(
        s"routed store $storeDir: the staged merge died before its " +
          "point of no return — the store is intact and the incomplete " +
          "staging has been removed; re-run mergeColdShards")
    }
    applyMergeStaging(spark, storeDir, fs)
  }

  /**
   * Measure the routing recall curve and PERSIST the operating point —
   * the shard-level analog of [[calibrateIvfStore]]: ground truth is
   * an exact top-k over the union of all shards' stored vectors (each
   * true neighbor carries the shard it lives in); each neighbor's
   * ROUTE RANK — the 1-based position of its shard in the query's
   * descending super-centroid order — decides the smallest route depth
   * that would have reached it; recall(depth) is one cumulative count.
   * Persists `<storeDir>/routing` (the chosen depth + the store size
   * and super size it was measured against) and
   * `<storeDir>/routing_curve`; routed searches with `routeShards = 0`
   * consume the depth, with a stale-super guard. Returns the chosen
   * depth. Cost: one exact scan against `sampleN` broadcast queries —
   * build/maintenance time, exactly like the nprobe calibration.
   */
  def calibrateRoutedIvfStore(spark: SparkSession, storeDir: String,
      queries: DataFrame, k: Int, targetRecall: Double = 0.9,
      sampleN: Int = 32): Int = {
    import spark.implicits._
    require(k >= 1, s"k must be >= 1, got $k")
    require(targetRecall > 0 && targetRecall <= 1,
      s"targetRecall must be in (0, 1], got $targetRecall")
    require(sampleN >= 1, s"sampleN must be >= 1, got $sampleN")
    val supers = readSuper(spark, storeDir)
    val nShards = supers.size
    val dirs = builtShardDirs(spark, storeDir)
    require(dirs.nonEmpty, s"routed store $storeDir has no built shards")
    val q = unitVecs(queries, "query_id", "query_vec")
      .orderBy(md5(col("query_id").cast("string")), col("query_id"))
      .limit(sampleN)
    val stored = dirs.map { case (i, d) =>
      // live rows only — per-shard tombstones excluded, same contract
      // as the searches this calibration parameterizes
      minusDeleted(spark, spark.read.parquet(d + "/encoded"), d, "item_id")
        .select(col("item_id"), col("item_vec"), lit(i).as("shard"))
    }.reduce(_ unionByName _)
    val truth = TopK.perGroup(
      stored.join(broadcast(q))
        .filter(col("query_id") =!= col("item_id"))
        .select(col("query_id"), col("item_id"), col("shard"),
          V.dot(col("query_vec"), col("item_vec")).as("cos")),
      Seq("query_id"), Seq(("cos", false), ("item_id", true)), k)
      .select("query_id", "shard")
    val ranks = q.select(col("query_id"),
        posexplode(reverse(array_sort(centScores(supers, col("query_vec")))))
          .as(Seq("p0", "probe")))
      .select(col("query_id"), (col("p0") + 1).as("route_rank"),
        col("probe.lid").as("shard"))
    val hits = truth.join(ranks, Seq("query_id", "shard"))
    val total = hits.count()
    require(total > 0, "calibrateRoutedIvfStore: no ground-truth " +
      "neighbors — empty store or empty query sample")
    val curve = hits.groupBy(col("route_rank").as("route_shards"))
      .agg(count(lit(1)).as("__h"))
      .withColumn("recall",
        sum(col("__h")).over(org.apache.spark.sql.expressions.Window
          .orderBy("route_shards")
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)) / lit(total.toDouble))
      .select(col("route_shards").cast("int").as("route_shards"),
        col("recall"))
    val rows = curve.collect().map(r => r.getInt(0) -> r.getDouble(1))
      .sortBy(_._1)
    val chosen = rows.collectFirst {
      case (d, r) if r >= targetRecall => d
    }.getOrElse(nShards)
    val nItems = stored.count()
    curve.coalesce(1).write.mode("overwrite")
      .parquet(storeDir + "/routing_curve")
    Seq((chosen, targetRecall, k, sampleN, nItems, nShards))
      .toDF("route_shards", "target_recall", "k", "sample_n",
        "n_items", "n_shards")
      .coalesce(1).write.mode("overwrite")
      .parquet(storeDir + "/routing")
    chosen
  }

  /** Past this max/mean stored-count imbalance, [[routedStoreAdvice]]
    * flips `split_advised` — the measured 1.5–1.75× skew of untrained
    * cluster shards is where the hot shard starts dominating tail
    * latency, and [[splitHotShard]] is the incremental remedy. */
  private val SplitAdviseImbalance = 1.5

  /** One-row routing health readout for a routed store: shard count,
    * item count, the persisted route depth and its probed-shard share
    * (null when never calibrated or calibrated against a different
    * super-quantizer), `recalibrate_advised` — no usable
    * calibration or the store has grown ≥2× past the calibration's
    * item count — and the skew pair: `shard_imbalance` (max/mean
    * stored count over built shards) with `split_advised` once it
    * passes [[SplitAdviseImbalance]] ([[splitHotShard]] is the lever;
    * it is deliberately NOT auto-run from streams — a split re-keys
    * the router, a maintenance-window decision like a rebuild).
    * `merge_advised` + `cold_shards` is the inverse readout: the two
    * smallest built shards that together still fit under the mean are
    * pure per-query fixed cost ([[mergeColdShards]] is the lever, same
    * never-auto-run rule). Per-shard list health stays
    * [[ivfStoreAdvice]] per shard dir. */
  def routedStoreAdvice(spark: SparkSession, storeDir: String): DataFrame = {
    import spark.implicits._
    val nShards = readSuper(spark, storeDir).size
    val sized = builtShardDirs(spark, storeDir)
      .map { case (i, d) => (spark.read.parquet(d + "/encoded").count(), i) }
    val counts = sized.map(_._1)
    val nItems = counts.sum
    val imbalance =
      if (counts.isEmpty || nItems == 0L) 1.0
      else counts.max.toDouble / (nItems.toDouble / nShards)
    // the COLD pair: per-shard fixed job cost dominates small batches
    // (soak-measured), so two shards that together still fit under the
    // mean are pure overhead — mergeColdShards is the lever (surfaced,
    // never auto-run: a merge re-keys the router, maintenance-window
    // work exactly like the split)
    val coldPair = sized.sorted.take(2).map(_._2).sorted
    val mergeAdvised = nShards >= 3 && sized.size >= 2 &&
      sized.sorted.take(2).map(_._1).sum <= nItems.toDouble / nShards
    val cal = readRouting(spark, storeDir).filter(_._3 == nShards)
    val depth = cal.map(c => math.min(c._1, nShards))
    Seq((nItems, nShards, depth, depth.map(_.toDouble / nShards),
        cal.forall { case (_, calItems, _) =>
          nItems >= 2L * math.max(1L, calItems) },
        imbalance, imbalance >= SplitAdviseImbalance && nShards >= 2,
        mergeAdvised, if (mergeAdvised) coldPair else Seq.empty[Int]))
      .toDF("n_items", "n_shards", "route_shards", "routed_share",
        "recalibrate_advised", "shard_imbalance", "split_advised",
        "merge_advised", "cold_shards")
  }

  private def readCentroids(spark: SparkSession,
      storeDir: String): Seq[(Int, Seq[Double])] =
    readCentroidsAt(spark, storeDir + "/centroids")

  private def readCentroidsAt(spark: SparkSession,
      path: String): Seq[(Int, Seq[Double])] =
    spark.read.parquet(path).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1).toSeq

  private def readBooks(spark: SparkSession,
      storeDir: String): Seq[Seq[Seq[Double]]] =
    spark.read.parquet(storeDir + "/books").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3.toSeq).toSeq)

  private def writeEncoded(vecs: DataFrame, centers: Seq[(Int, Seq[Double])],
      storeDir: String, overwrite: Boolean): Unit =
    unitVecs(vecs, "item_id", "item_vec")
      .withColumn("list_id",
        assignList(centers, col("item_vec")))
      .write.mode(if (overwrite) "overwrite" else "append")
      .partitionBy("list_id").parquet(storeDir + "/encoded")

  private def writeCodes(vecs: DataFrame, centers: Seq[(Int, Seq[Double])],
      books: Seq[Seq[Seq[Double]]], subdim: Int, storeDir: String,
      overwrite: Boolean): Unit =
    unitVecs(vecs, "item_id", "item_vec")
      .select(col("item_id") +:
        assignList(centers, col("item_vec"))
          .as("list_id") +:
        books.indices.map(j =>
          pqCode(books, j, col("item_vec"), subdim).as(s"code$j")): _*)
      .write.mode(if (overwrite) "overwrite" else "append")
      .partitionBy("list_id").parquet(storeDir + "/codes")
}
