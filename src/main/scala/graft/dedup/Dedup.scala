package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, exact through
  * approximate:
  *
  *  - [[exact]] — hash-groupBy on a content digest (one shuffle on a
  *    uniformly distributed key).
  *  - [[shingleHashes]] / [[minhashSignature]] / [[lshCandidatePairs]] —
  *    MinHash + banded LSH: shingle → k min-hashes → band buckets →
  *    candidate pairs from a self-join on (band, bucket). The self-join
  *    shuffles on the band-hash key, so only near-duplicates ever meet —
  *    the O(n²) pair space is never materialized.
  *  - [[simhash]] — per-doc bit-voted token-hash signature; equal or
  *    near-equal (Hamming) signatures are near-dups.
  *  - [[jaccard]] — exact n-gram Jaccard for a *candidate* pair set
  *    (verification stage after LSH blocking, never a full cross join).
  *
  * All hashing is deterministic polynomial arithmetic (not engine-native
  * hash functions) so results are identical across engines — the same
  * property that makes the DuckDB oracle able to replay them.
  *
  * The reference's only dedup is first-wins `distinct` over a KV store
  * (transform/distinct.go:24-62); everything beyond that is the
  * training-data extension the north star asks for.
  */
object Dedup {

  val P: Long = graft.expr.PolyHash.Mod // one canonical modulus everywhere

  /** Exact dedup groups: one row per distinct digest with group size and
    * the kept (minimum) id. NULL text is EXCLUDED — md5(null) is null
    * and Spark groups nulls together, so 10k unfetched-content docs
    * would otherwise collapse into one "duplicate" group and lose all
    * but one; null means MISSING, not identical ([[pipeline]] carries
    * null-text docs through as their own survivors). */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.filter(col(textCol).isNotNull)
      .groupBy(md5(col(textCol)).as("digest"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keep_id"))

  /** Backtick-quote a column name for interpolation into expr() SQL —
    * a name like `content-type` or `a.b` would otherwise parse as
    * arithmetic / field access (same hazard Profile.bq documents). */
  private def bq(name: String): String = "`" + name.replace("`", "``") + "`"

  /** Distinct char-`k`-gram polynomial hashes of `textCol` as an array
    * column `shingles`. Pure lambda expressions — codegen, no UDF. */
  def withShingleHashes(df: DataFrame, textCol: String, k: Int = 5): DataFrame = {
    val t = bq(textCol)
    df.withColumn("shingles",
      when(length(col(textCol)) < k, array().cast("array<bigint>"))
        .otherwise(expr(
          s"""array_distinct(transform(sequence(1, length($t) - ${k - 1}),
             |  i -> aggregate(transform(sequence(0, ${k - 1}),
             |                           j -> ascii(substring($t, i + j, 1))),
             |                 0L, (acc, x) -> (acc * 131 + x) % $P)))""".stripMargin)))
  }

  /** Distinct word-trigram shingle hashes: hash each whitespace token
    * once (polynomial over chars), then combine consecutive triples.
    * Word grams stay distinctive even over small vocabularies where
    * char grams degenerate into every-doc-shares-every-shingle (which
    * turns LSH banding quadratic). One codegen'd call per row
    * ([[graft.expr.WordShingles]] — bit-identical to the SQL-lambda
    * formulation the oracle replays, which interpreted at ~tokens×3
    * lambda evaluations per row). */
  def withWordShingles(df: DataFrame, textCol: String): DataFrame = {
    graft.expr.GraftFunctions.register(df.sparkSession)
    df.withColumn("shingles", call_function("word_shingles", col(textCol)))
  }

  /** MinHash signature: sig[i] = min over shingles of (a_i*x + b_i) mod P
    * with fixed odd multipliers — k permutation approximations
    * ([[graft.expr.MinHashSig]], one codegen'd pass over the shingle
    * array instead of 16 interpreted array_min lambdas). */
  def withMinhashSignature(df: DataFrame, numHashes: Int = 16): DataFrame = {
    require(numHashes == graft.expr.MinHashSig.NumHashes,
      "MinHashSig is compiled for 16 hashes")
    graft.expr.GraftFunctions.register(df.sparkSession)
    df.withColumn("sig", call_function("minhash_sig", col("shingles")))
  }

  /** Banded LSH candidate pairs: split the signature into `bands` bands,
    * hash each band, self-join docs sharing a (band, hash) bucket.
    * Returns distinct (id_a < id_b) pairs. */
  def lshCandidatePairs(sigDf: DataFrame, idCol: String,
      numHashes: Int = 16, bands: Int = 4): DataFrame = {
    // bands > numHashes would make every band slice empty → every doc
    // in bucket 0 → the full O(n²) self-join the banding exists to
    // prevent; a non-dividing bands silently drops trailing hashes
    require(bands >= 1 && bands <= numHashes && numHashes % bands == 0,
      s"bands=$bands must divide numHashes=$numHashes")
    val rowsPerBand = numHashes / bands
    val banded = sigDf.select(col(idCol).as("doc"),
      posexplode(expr(
        s"""transform(sequence(0, ${bands - 1}),
           |  b -> aggregate(slice(sig, b * $rowsPerBand + 1, $rowsPerBand),
           |                 0L, (acc, x) -> (acc * 131 + x % 1000000) % $P))""".stripMargin))
        .as(Seq("band", "bucket")))
    val l = banded.select(col("band"), col("bucket"), col("doc").as("id_a"))
    val r = banded.select(col("band"), col("bucket"), col("doc").as("id_b"))
    l.join(r, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** 16-bit SimHash over whitespace tokens: each token's polynomial hash
    * votes ±1 per bit; majority sets the bit. Backed by the codegen'd
    * [[graft.expr.SimHash16]] (bit-identical to the SQL-lambda
    * formulation the oracle replays). Requires GraftFunctions.register
    * on the session — [[simhashDf]] does it for you. */
  def simhash(textCol: String): Column =
    call_function("simhash16", col(textCol))

  def simhashDf(df: DataFrame, textCol: String, dst: String): DataFrame = {
    graft.expr.GraftFunctions.register(df.sparkSession)
    df.withColumn(dst, simhash(textCol))
  }

  /** SimHash near-dup pairs: Hamming distance of the signatures ≤
    * `maxHamming`. Banded-signature blocking, NOT a cross join: the
    * 16-bit signature splits into `maxHamming + 1` bands (widths as
    * equal as 16 allows); by pigeonhole, a pair with ≤ maxHamming
    * differing bits has at least one identical band, so a shuffled
    * self-equi-join on (band, band_value) generates every qualifying
    * candidate — the result is EXACT (same rows as the all-pairs form),
    * but the O(n²) pair space is never materialized. Using exactly
    * maxHamming+1 bands keeps each band as wide (selective) as
    * exactness allows: for maxHamming=2 that is 6/5/5 bits = 64/32/32
    * bucket values per band, 4-5x fewer candidates than 4-bit bands.
    * Verification (`bit_count(sa^sb) <= maxHamming`) runs inside the
    * candidate set only. At 100 TB the residual risk is bucket skew
    * from exact-duplicate signatures (every band collides); AQE
    * skew-join splitting covers it, and exact dups should be removed by
    * [[exact]] upstream anyway.
    *
    * Capacity caveat: a 16-bit signature space saturates around ~10^4
    * documents — beyond that, unrelated documents collide within
    * maxHamming by birthday pressure and candidate counts grow
    * quadratically inside buckets. The banding generalizes unchanged to
    * wider signatures (64-bit simhash + 8-bit bands is the production
    * shape); 16 bits is kept here because the oracle replays each bit
    * test in SQL.
    *
    * `idCol` must be unique in `df`: a pair is keyed by its two ids, so
    * a duplicated id emits its pairs once per copy (duplicate output
    * rows). Uniqueness is the caller's contract, not checked here —
    * checking it would cost an extra Spark job on every call. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int): DataFrame = {
    val bands = maxHamming + 1
    require(bands <= 16, s"maxHamming=$maxHamming needs more bands than bits")
    val w = 16 / bands
    val extra = 16 % bands // first `extra` bands get one more bit
    val offsets = (0 until bands).map(b => b * w + math.min(b, extra))
    val widths = (0 until bands).map(b => w + (if (b < extra) 1 else 0))
    val bandExprs = offsets.zip(widths).map { case (off, wid) =>
      s"shiftright(sig, $off) % ${1L << wid}"
    }.mkString("array(", ", ", ")")
    // signatures materialized ONCE (localCheckpoint): the self-join's
    // two sides are identical subplans and normally share one exchange
    // (ReuseExchange), but ANY post-join predicate that pushes a
    // constraint to one side de-duplicates the sides and silently
    // re-evaluates the signature pass per side (measured at 525k docs:
    // +1.5s for a trivial extra filter). Pinning the tiny (id, sig)
    // table makes single evaluation unconditional. A local checkpoint
    // lives in executor storage with its lineage cut, so a lost
    // executor fails the query instead of recomputing the signatures
    // (every localCheckpoint in this object shares that trade-off).
    val sigs = simhashDf(df, textCol, "sig").select(col(idCol).as("id"), col("sig"))
      .localCheckpoint()
    // explicit co-partitioning on the join key, sized by the session's
    // shuffle-partition conf: the banded self-join is OUTPUT-quadratic
    // inside hot buckets while its input BYTES are tiny, so AQE (which
    // coalesces by bytes) would otherwise collapse the exchange to 1-2
    // tasks and serialize the whole pair generation (measured: 2 tasks
    // x ~1s at sf0.1). A user-specified partition count is respected by
    // AQE; the value comes from spark.sql.shuffle.partitions, so it
    // scales with the deployment, not with this box.
    val np = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val banded = sigs.select(col("id"), col("sig"),
      posexplode(expr(bandExprs)).as(Seq("band", "bv")))
      .repartition(np, col("band"), col("bv"))
    val a = banded.select(col("band"), col("bv"), col("id").as("id_a"), col("sig").as("sa"))
    val b = banded.select(col("band"), col("bv"), col("id").as("id_b"), col("sig").as("sb"))
    // FIRST-MATCH-BAND dedup, evaluated inside the join's codegen stage:
    // a qualifying pair shares up to `bands` band values (hamming 0
    // shares all of them) and would otherwise be emitted once per
    // shared band and deduplicated by a .distinct() over the whole
    // candidate stream (measured 3.1M pre-distinct rows -> ~1M pairs at
    // sf0.1). Keeping a pair only in its FIRST matching band — band b
    // qualifies iff no earlier band b' has equal values, a scalar check
    // on the carried signatures — emits every pair EXACTLY once, so the
    // terminal distinct (and its full shuffle of the candidate stream)
    // is unnecessary: the equi-join yields one row per (pair, matching
    // band) by construction.
    val firstMatch = offsets.zip(widths).zipWithIndex.map { case ((_, _), bi) =>
      val priors = (0 until bi).map { bp =>
        val (po, pw) = (offsets(bp), widths(bp))
        s"(shiftright(sa, $po) % ${1L << pw}) != (shiftright(sb, $po) % ${1L << pw})"
      }
      if (priors.isEmpty) s"(band = $bi)"
      else s"(band = $bi AND ${priors.mkString(" AND ")})"
    }.mkString("(", " OR ", ")")
    a.join(b, Seq("band", "bv"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      // first-match AFTER the hamming cut: it then runs on the few
      // qualifying rows instead of every raw candidate (measured at
      // 525k docs: evaluating it pre-hamming on the raw join stream
      // cost ~1.4s for a distinct that was already cheap there)
      .filter(expr(firstMatch))
      .select("id_a", "id_b", "hamming")
  }

  /** 64-bit SimHash near-dup pairs — the corpus-scale variant (the
    * 16-bit space saturates ≈10^4 docs; see [[simhashPairs]]). Same
    * exact pigeonhole banding, maxHamming+1 bands over 64 bits
    * (22/21/21 bits for ≤2). Measured capacity (BENCH/NOTES.md):
    * random band collisions follow the 3·n²/2^22 birthday floor — ~0.7
    * candidates/doc at 10^6 docs, ~7 at 10^7, ~70 at 10^8 — so exact
    * 3-band blocking holds to ~10^7-10^8 docs (the candidate FILTER is
    * a cheap bit_count over ids+sigs); beyond that, run [[exact]]
    * upstream, add bands with multiprobe, or cap buckets. Backed by the
    * codegen'd [[graft.expr.SimHash64]]; not DuckDB-replayable
    * (wrapping u64 arithmetic), so verified in ScalaTest against the
    * all-pairs form instead of the oracle. As with [[simhashPairs]],
    * `idCol` must be unique in `df` (a duplicated id emits duplicate
    * pairs); this is not checked, to spare a Spark job per call. */
  def simhashPairs64(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int): DataFrame = {
    val bands = maxHamming + 1
    require(bands <= 64, s"maxHamming=$maxHamming needs more bands than bits")
    val w = 64 / bands
    val extra = 64 % bands
    val offsets = (0 until bands).map(b => b * w + math.min(b, extra))
    val widths = (0 until bands).map(b => w + (if (b < extra) 1 else 0))
    val bandExprs = offsets.zip(widths).map { case (off, wid) =>
      val mask = if (wid == 64) -1L else (1L << wid) - 1
      s"shiftrightunsigned(sig, $off) & $mask"
    }.mkString("array(", ", ", ")")
    graft.expr.GraftFunctions.register(df.sparkSession)
    val sigs = df.select(col(idCol).as("id"),
      call_function("simhash64", col(textCol)).as("sig"))
      .localCheckpoint() // single signature evaluation — see simhashPairs
    // same co-partitioning + first-match-band shape as [[simhashPairs]]
    // (see the comments there): exactly-once pair emission replaces the
    // terminal distinct, and the explicit conf-sized partitioning keeps
    // AQE from collapsing the byte-small, compute-quadratic self-join.
    val np = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val banded = sigs.select(col("id"), col("sig"),
      posexplode(expr(bandExprs)).as(Seq("band", "bv")))
      .repartition(np, col("band"), col("bv"))
    val a = banded.select(col("band"), col("bv"), col("id").as("id_a"), col("sig").as("sa"))
    val b = banded.select(col("band"), col("bv"), col("id").as("id_b"), col("sig").as("sb"))
    val firstMatch = offsets.zip(widths).zipWithIndex.map { case ((_, _), bi) =>
      val priors = (0 until bi).map { bp =>
        val (po, pw) = (offsets(bp), widths(bp))
        val pm = if (pw == 64) -1L else (1L << pw) - 1
        s"(shiftrightunsigned(sa, $po) & $pm) != (shiftrightunsigned(sb, $po) & $pm)"
      }
      if (priors.isEmpty) s"(band = $bi)"
      else s"(band = $bi AND ${priors.mkString(" AND ")})"
    }.mkString("(", " OR ", ")")
    a.join(b, Seq("band", "bv"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .filter(expr(firstMatch)) // after the hamming cut — see simhashPairs
      .select("id_a", "id_b", "hamming")
  }

  /** Embedding-cosine near-duplicates: pairs above a cosine threshold,
    * blocked by MULTIPROBE multi-table sign-random-projection buckets
    * ([[graft.sim.Ann.srpBucket]] — the same deterministic hyperplanes
    * the ANN path uses). One side additionally probes every 1-bit-flip
    * neighbor of its bucket, so a pair is a candidate when its two
    * bucket codes differ in ≤ 1 plane in ANY table — multiprobe buys
    * the recall of many more tables at the cost of `planes`+1 probe
    * rows instead of whole extra corpus replications (Lv et al.,
    * multi-probe LSH). Only (table, bucket, id) rows go through the
    * candidate shuffle; vectors are fetched by id AFTER pair dedup, so
    * the wide rows never amplify.
    *
    * Miss probability per pair at angle θ and defaults (12 planes, 16
    * tables, 1-bit probing): (1 - P[≤1 plane of 12 splits])^16 — ~1e-5
    * at cosine 0.8, vanishing for the near-1 cosines real near-dups
    * have. Deterministic (fixed hyperplanes); PipelineOpsSpec asserts
    * exact agreement with the all-pairs form on the test corpus. Raise
    * `planes` as the corpus grows to keep buckets small; raise `tables`
    * to push recall. */
  def embeddingNearDups(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, planes: Int = 12, tables: Int = 16): DataFrame = {
    graft.expr.GraftFunctions.register(emb.sparkSession)
    // norms hoisted out of pair scoring: one fold per vector
    def norm(v: String) = sqrt(call_function("dotp", col(v), col(v)))
    val base = emb.select(col(idCol).as("id"),
      transform(col(vecCol), x => x.cast("double")).as("v"))
      .withColumn("nrm", norm("v"))
      // zero vectors have no direction: sim would be 0/0 = NaN, and
      // Spark orders NaN ABOVE every double, so NaN >= threshold is
      // TRUE — a pair of failed-embedder zero vectors would silently
      // count as near-duplicates. Excluded from pairing entirely.
      .filter(col("nrm") > 0)
    // explicit conf-sized co-partitioning on the probe join key: the
    // (table, bucket) self-join is byte-small but its per-bucket output
    // is quadratic, so AQE's byte-based coalescing would serialize it
    // onto 1-2 tasks (same blind spot as the simhash banding joins)
    val np = emb.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val bucketed = base
      .withColumn("tbl", explode(expr(s"sequence(0, ${tables - 1})")))
      .withColumn("bucket", graft.sim.Ann.srpBucket("v", planes, "tbl"))
      .select("tbl", "bucket", "id")
      .repartition(np, col("tbl"), col("bucket"))
    val probes = bucketed
      .withColumn("bucket",
        explode(graft.sim.Ann.multiprobeFlips(col("bucket"), planes)))
      .select(col("tbl"), col("bucket"), col("id").as("id_a"))
      .repartition(np, col("tbl"), col("bucket"))
    val cand = probes
      .join(bucketed.select(col("tbl"), col("bucket"), col("id").as("id_b")),
        Seq("tbl", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      // pin the dedup exchange too: the distinct's input is candidate
      // ids (byte-tiny) but its upstream is the quadratic bucket join
      .repartition(np, col("id_a"), col("id_b")).distinct()
    cand
      .join(base.select(col("id").as("id_a"), col("v").as("va"), col("nrm").as("na")),
        Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("v").as("vb"), col("nrm").as("nb")),
        Seq("id_b"))
      .withColumn("sim", round(
        call_function("dotp", col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .filter(col("sim") >= threshold)
      .select("id_a", "id_b", "sim")
  }

  /** The all-pairs O(n²) form of [[embeddingNearDups]] — the verification
    * baseline for recall tests only; never the scale path. */
  def embeddingNearDupsExact(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    graft.expr.GraftFunctions.register(emb.sparkSession)
    def norm(v: String) = sqrt(call_function("dotp", col(v), col(v)))
    val base = emb.select(col(idCol).as("id"),
      transform(col(vecCol), x => x.cast("double")).as("v"))
      .withColumn("nrm", norm("v"))
      .filter(col("nrm") > 0) // zero-norm exclusion — see embeddingNearDups
    val a = base.select(col("id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
    val b = base.select(col("id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("sim", round(
        call_function("dotp", col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .filter(col("sim") >= threshold)
      .select("id_a", "id_b", "sim")
  }

  /** Exact Jaccard similarity between the shingle sets of a candidate
    * pair table (columns shingles_a, shingles_b). */
  def jaccardCol(a: Column, b: Column): Column =
    when(size(a) === 0 && size(b) === 0, lit(1.0))
      .otherwise(round(
        size(array_intersect(a, b)).cast("double") /
          size(array_union(a, b)).cast("double"), 6))

  /** Exact Jaccard verification of LSH candidate pairs against their
    * shingle sets, shaped to shuffle as few array bytes as possible —
    * the shingle arrays are the widest thing in the dedup job and this
    * join is where a naive plan moves them twice for every candidate:
    *
    *  1. Semi-join the shingle table down to CANDIDATE ids first — at
    *     corpus scale candidates are a vanishing fraction of docs, so
    *     the array-carrying side of the verify join shrinks from
    *     |corpus| to |candidate ids| before anything wide shuffles.
    *  2. Size-ratio guard BEFORE the intersect: J(A,B) = |A∩B|/|A∪B| ≤
    *     min(|A|,|B|) / max(|A|,|B|), so a pair whose shingle-count
    *     ratio is below the threshold can NEVER verify — evaluated as a
    *     scalar comparison inside the join's own codegen stage (a
    *     separate integer-join prefilter measured slower: 3 extra
    *     stages of scheduling latency), so hopeless pairs skip the
    *     O(n log n) array_intersect/union. The bound is exact (unlike a
    *     minhash estimate): output is bit-identical to verifying every
    *     candidate.
    *
    * `cand` is referenced twice (semi-join build side + probe); callers
    * on the hot path persist it first ([[pipeline]] and
    * ScalingBench.dedupPass both do). `cand` must have columns
    * id_a/id_b; `sh` columns doc_id/shingles. */
  def verifyPairs(sh: DataFrame, cand: DataFrame, threshold: Double): DataFrame = {
    // no .distinct() — a semi join dedups its build side internally,
    // and the extra shuffle costs a whole stage of latency
    val ids = cand.select(col("id_a").as("doc_id"))
      .unionAll(cand.select(col("id_b").as("doc_id")))
    // candidate ids are tiny next to the corpus → Spark broadcasts the
    // semi join, so the corpus-wide array table shrinks without a
    // shuffle; above the broadcast threshold AQE falls back to a
    // shuffled semi join of (id) vs arrays — still arrays×1, not ×2
    val shc = sh.join(ids, Seq("doc_id"), "left_semi")
    cand
      .join(shc.select(col("doc_id").as("id_a"), col("shingles").as("sa")), Seq("id_a"))
      .join(shc.select(col("doc_id").as("id_b"), col("shingles").as("sb")), Seq("id_b"))
      // size-ratio guard first: J ≤ min|A|,|B| / max|A|,|B|, so hopeless
      // pairs never pay the O(n log n) intersect/union — a scalar
      // comparison inside the same codegen stage, no extra joins
      .filter(least(size(col("sa")), size(col("sb"))).cast("double") >=
        greatest(size(col("sa")), size(col("sb"))).cast("double") * lit(threshold))
      .withColumn("jaccard", jaccardCol(col("sa"), col("sb")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Near-dup CLUSTERS from a verified pair list: connected components
    * by iterative min-label propagation — label(x) := min(label(x),
    * min over neighbors' labels) until fixpoint. Output: one row per
    * node appearing in `pairs`, with `cluster_id` = the smallest id in
    * its component (the canonical survivor).
    *
    * Scale shape: each iteration is a neighbor-min step (one shuffled
    * join + aggregation) plus a POINTER-JUMPING step (label :=
    * label(label) — one self-join), so convergence takes
    * O(log diameter) iterations, not O(diameter): a million-node chain
    * settles in ~20 rounds. The fixpoint check probes for rows whose
    * label changed this round — the OLD label is threaded through the
    * round's joins as an extra column, so detection is a filter over
    * the already-checkpointed result (one action, no extra join). It
    * is deterministic and works for ANY ordered id type (string UUIDs,
    * u64 hashes); the tempting sum(label) shortcut breaks on string
    * ids and overflows Long under ANSI for large numeric ids.
    * localCheckpoint per iteration keeps plans from growing; it cannot
    * recover a lost executor (see simhashPairs). */
  /** Ordering identical to Spark's for the fast-path id types:
    * UTF8String binary order (unsigned UTF-8 bytes — String.compareTo
    * diverges on supplementary characters) for strings, Comparable for
    * boxed numerics. */
  private def sparkCmp(a: Any, b: Any): Int = (a, b) match {
    case (x: String, y: String) =>
      val xb = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val yb = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val n = math.min(xb.length, yb.length)
      var i = 0
      while (i < n) {
        val d = (xb(i) & 0xFF) - (yb(i) & 0xFF)
        if (d != 0) return d
        i += 1
      }
      xb.length - yb.length
    case _ => a.asInstanceOf[Comparable[Any]].compareTo(b)
  }

  def nearDupClusters(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxIters: Int = 40,
      driverMaxEdges: Long = 200000L): DataFrame = {
    val edges = pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .unionAll(pairs.select(col(idB).as("src"), col(idA).as("dst")))
      .distinct()
      .localCheckpoint()
    // SMALL-GRAPH FAST PATH: after LSH blocking + exact verification the
    // pair list is tiny relative to the corpus (near-dups are a few
    // percent), and the iterative loop pays O(log d) rounds of stage
    // latency regardless of size. Up to `driverMaxEdges` SYMMETRIZED
    // edges (≈2x the input pairs; ids only — tens of MB at the cap)
    // union-find runs on the driver in O(n α(n)) with IDENTICAL
    // min-label output; beyond that — or for id types whose driver
    // ordering could diverge from Spark's (binary/struct/array) — the
    // distributed pointer-jumping loop below is the scale path.
    import org.apache.spark.sql.types.{ByteType, DoubleType, FloatType,
      IntegerType, LongType, ShortType, StringType}
    val idType = edges.schema.head.dataType
    val fastType = idType match {
      case StringType | ByteType | ShortType | IntegerType | LongType |
           FloatType | DoubleType => true
      case _ => false
    }
    // NOTE: this count() is one extra job per clustering call even at
    // scale — the pair table must materialize before the route is
    // chosen. It is the cheap side of the trade: pairs are cached by
    // the callers that loop (dedupPipeline persists them), AQE sizes
    // the job from the real shuffle, and skipping the guard would risk
    // collecting an unbounded edge list onto the driver.
    val edgeCount = edges.count()
    if (fastType && edgeCount > 0 && edgeCount <= driverMaxEdges) {
      val spark = pairs.sparkSession
      val parent = scala.collection.mutable.HashMap.empty[Any, Any]
      var nullSeen = false
      def find(x: Any): Any = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      edges.collect().foreach { r =>
        val (a, b) = (r.get(0), r.get(1))
        if (a == null || b == null) {
          // the distributed loop's joins never match null: a null node
          // labels itself (one (null,null) row), its partner keeps its
          // own component
          nullSeen = true
          if (a != null) parent.getOrElseUpdate(a, a): Unit
          if (b != null) parent.getOrElseUpdate(b, b): Unit
        } else {
          parent.getOrElseUpdate(a, a)
          parent.getOrElseUpdate(b, b)
          val (ra, rb) = (find(a), find(b))
          // union by MIN id: the root is always the smallest member, so
          // roots ARE the cluster_ids the distributed loop produces
          if (ra != rb) {
            if (sparkCmp(ra, rb) <= 0) parent(rb) = ra else parent(ra) = rb
          }
        }
      }
      val rows = parent.keys.toSeq.map(id =>
        org.apache.spark.sql.Row(id, find(id))) ++
        (if (nullSeen) Seq(org.apache.spark.sql.Row(null, null)) else Nil)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", idType),
        org.apache.spark.sql.types.StructField("cluster_id", idType)))
      return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, math.max(1, rows.size / 50000)),
        schema)
    }
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint()
    if (labels.isEmpty) // empty pair list: no clusters
      return labels.select(col("id"), col("label").as("cluster_id"))
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      val nbrMin = edges.join(labels, edges("dst") === labels("id"))
        .groupBy(col("src")).agg(min("label").as("nbr_label"))
      val stepped = labels.join(nbrMin, labels("id") === nbrMin("src"), "left")
        .select(col("id"), col("label").as("__old"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"))
      // pointer jump: follow the label one hop (labels are node ids, so
      // label(label) is defined); halves remaining chain depth per round
      val jump = stepped.select(col("id").as("jid"), col("label").as("jlabel"))
      val next = stepped.join(jump, stepped("label") === jump("jid"), "left")
        .select(stepped("id"), col("__old"),
          least(stepped("label"), coalesce(col("jlabel"), stepped("label"))).as("label"))
        .localCheckpoint()
      converged = next.filter(col("label") =!= col("__old")).isEmpty
      labels = next.select(col("id"), col("label"))
      i += 1
    }
    require(converged, s"label propagation did not converge in $maxIters iterations")
    labels.select(col("id"), col("label").as("cluster_id"))
  }

  /** Dedup survivors: every id in `corpus` except clustered non-minimum
    * members — i.e. keep one representative (the smallest id) per
    * near-dup cluster plus everything unclustered. Left anti-join on
    * the (small relative to corpus) loser set. */
  def survivors(corpus: DataFrame, idCol: String, clusters: DataFrame): DataFrame = {
    val losers = clusters.filter(col("id") =!= col("cluster_id"))
      .select(col("id").as("__loser"))
    corpus.join(losers, corpus(idCol) === col("__loser"), "left_anti")
  }

  /** The shared intermediates + outputs of one [[pipeline]] run. The
    * shingle and verified-pair tables stay persisted until
    * [[DedupResult.unpersist]] — callers materialize what they need,
    * then release. */
  final class DedupResult(
      val shingles: DataFrame, val pairs: DataFrame,
      val candidates: DataFrame,
      dedupedCorpus: DataFrame, idCol: String) {
    /** Connected components — LAZY: clustering runs Spark jobs at
      * construction time (the small-graph path counts + collects), so
      * a caller that only wants `pairs` must not pay for it. */
    lazy val clusters: DataFrame = nearDupClusters(pairs)
    lazy val survivors: DataFrame = Dedup.survivors(dedupedCorpus, idCol, clusters)
    def unpersist(): Unit = {
      pairs.unpersist(blocking = false)
      candidates.unpersist(blocking = false)
      shingles.unpersist(blocking = false)
    }
  }

  /** Production near-dup pipeline entry point. Order and sharing are
    * the at-scale requirements the independent driver queries don't
    * carry:
    *
    *  1. EXACT dedup first — identical docs collapse to one
    *     representative, so no downstream blocking join can ever see a
    *     quadratic exact-duplicate hot block (the documented simhash/
    *     LSH skew hazard; PipelineOpsSpec "simhash skew" measures it).
    *  2. Shingles computed ONCE and persisted: they feed the MinHash
    *     signatures AND both sides of the Jaccard verification.
    *  3. Verified pairs persisted once: they feed clustering AND (via
    *     clusters) survivor selection.
    *
    * The per-operator driver queries recompute these stages
    * independently by design (each must be oracle-checkable in
    * isolation); a real pipeline over a 100 TB corpus must never
    * tokenize+hash the corpus three times — this is the entry point
    * that doesn't (mirrors [[graft.bench.ScalingBench.dedupPass]]).
    * Survivors exclude both exact-dup non-representatives and near-dup
    * cluster losers. */
  def pipeline(docs: DataFrame, idCol: String, textCol: String,
      jaccardThreshold: Double = 0.8): DedupResult = {
    import org.apache.spark.storage.StorageLevel
    val exactKeep = exact(docs, idCol, textCol)
      .select(col("keep_id").as("__keep_id"))
    // null-text docs are NOT in any digest group (missing != identical):
    // they pass through as their own survivors rather than vanishing
    val uniq = docs.join(exactKeep, docs(idCol) === col("__keep_id"), "left_semi")
      .unionByName(docs.filter(col(textCol).isNull))
    val sh = withWordShingles(uniq, textCol)
      .select(col(idCol).as("doc_id"), col("shingles"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // candidates persisted: verifyPairs consumes them twice (semi-join
    // ids + probe side) — without this the banded self-join recomputes
    val cand = lshCandidatePairs(withMinhashSignature(sh), "doc_id")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val pairs = verifyPairs(sh, cand, jaccardThreshold)
      .persist(StorageLevel.MEMORY_AND_DISK)
    new DedupResult(sh, pairs, cand, uniq, idCol)
  }
}
