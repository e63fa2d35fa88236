package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document-deduplication operators: exact, MinHash+LSH, SimHash, and
  * n-gram Jaccard. Designed for the 100 TB shape of the problem:
  *
  *  - exact dedup is one hash-groupBy (map-side partial, no pairwise);
  *  - n-gram Jaccard joins through an inverted shingle index, so only
  *    pairs sharing at least one shingle are ever materialized;
  *  - MinHash LSH banding caps candidate generation at documents sharing
  *    a band key — the classic sub-quadratic near-dup pipeline
  *    (shingle → minhash → band → bucket-join → verify);
  *  - SimHash is a single linear pass producing a 32-bit signature whose
  *    hamming distance approximates cosine similarity of token sets.
  */
object Dedup {

  import TextStats.{wordHash, words}

  /** Shingles from an already-materialized words *column reference*.
    *
    * Performance contract: `ws` must be a bound column (attribute), not
    * an expression like `split(...)`. Higher-order-function lambdas are
    * evaluated interpreted (outside whole-stage codegen), where every
    * reference to a child expression re-evaluates it — an inline
    * `split()` would rerun per element. Likewise `element_at` (O(1)) is
    * used instead of `slice` (O(n) copy per position).
    */
  def shinglesFromWords(ws: Column, n: Int = 3): Column =
    // guard: sequence(1, 0) would produce a *descending* [1,0] in Spark
    when(size(ws) >= n,
      array_distinct(
        transform(
          sequence(lit(1), size(ws) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(k => element_at(ws, i + k)): _*))))
      .otherwise(array().cast("array<string>"))

  /** Distinct word n-gram shingles of a text column (convenience; for
    * hot paths prefer the relational window-`lead` gram builder
    * ([[gramRows]]), which stays inside whole-stage codegen). */
  def shingles(text: Column, n: Int = 3): Column =
    shinglesFromWords(words(text), n)

  /** Exact dedup groups: content hash -> surviving (minimum) doc_id and
    * group size. Survivors = `where(group_size == 1 or doc_id == survivor)`. */
  def exact(df: DataFrame, textCol: String = "text"): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min("doc_id").as("survivor"), count(lit(1)).as("group_size"))

  /** Segment-level ("line") deduplication — the C4/RefinedWeb corpus
    * cleanup step: every duplicated segment is removed except its first
    * corpus occurrence (ordered by doc_id, then position), and each
    * document is reassembled from its surviving segments in order.
    * Documents whose every segment was deduplicated away drop out
    * entirely (the C4 behavior for boilerplate-only pages).
    *
    * Segments are fixed-width word windows of `segWords` (the bench
    * corpus has no newlines); the algorithm is segmentation-agnostic —
    * swapping the (doc_id, seg_idx, segment) builder for a newline
    * split changes nothing downstream.
    *
    * Scale shape: one posexplode (corpus token mass), one
    * (doc, seg)-keyed aggregate to form segments, one segment-keyed
    * MIN-aggregate for the first occurrence, one doc-keyed aggregate to
    * reassemble — all shuffles linear in corpus mass, never pairwise.
    * First-occurrence selection is deliberately ONE `min(struct)`
    * aggregate — the kept set is exactly one row per distinct segment,
    * so the aggregate's output IS the answer, no join-back or window. A
    * `row_number` window would put every occurrence of a viral
    * boilerplate segment in one partition (window skew AQE cannot
    * split); the aggregate combines map-side, so a hot segment costs
    * one row per input partition. The relational
    * build (generator + aggregates) keeps everything but the
    * sorted-collect reassembly inside whole-stage codegen; see
    * [[shingleIndex]] for why the array-lambda route is avoided. */
  def segmentDedup(
      df: DataFrame,
      segWords: Int = 10,
      textCol: String = "text"): DataFrame = {
    val wordRows = df.select(
      col("doc_id"), posexplode(words(col(textCol))).as(Seq("pos", "w")))
    val segs = wordRows
      .groupBy(col("doc_id"), expr(s"pos div $segWords").as("seg_idx"))
      .agg(concat_ws(" ",
        transform(array_sort(collect_list(struct(col("pos"), col("w")))),
          s => s.getField("w"))).as("segment"))
    segs
      .groupBy("segment")
      .agg(min(struct(col("doc_id"), col("seg_idx"))).as("__first"))
      .select(
        col("__first.doc_id").as("doc_id"),
        col("__first.seg_idx").as("seg_idx"),
        col("segment"))
      .groupBy("doc_id")
      .agg(
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col("seg_idx"), col("segment")))),
            s => s.getField("segment"))).as("text_dedup"),
        count(lit(1)).as("n_kept"))
  }

  /** Word n-gram rows `(doc_id, shingle)` (NOT distinct), built
    * relationally — posexplode words, window-`lead` to form the n-gram —
    * so every operator stays inside whole-stage codegen. The array/
    * lambda route ([[shinglesFromWords]]) evaluates interpreted, where
    * each element_at reference re-runs its child; pushed under an
    * explode that becomes quadratic per document (see [[shingleIndex]]
    * scaladoc for the full mechanics). The window shuffles on doc_id,
    * which also parallelizes single-file inputs. */
  private def gramRows(df: DataFrame, n: Int, textCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    df.select(col("doc_id"), posexplode(words(col(textCol))).as(Seq("pos", "w")))
      .select(col("doc_id"), col("pos"),
        (1 until n).foldLeft(col("w")) { (acc, k) =>
          concat_ws(" ", acc, lead("w", k).over(w))
        }.as("shingle"),
        (lead("w", n - 1).over(w).isNotNull).as("__complete"))
      .where(col("__complete"))
      .select("doc_id", "shingle")
  }

  /** The inverted shingle index in exploded, hashed form:
    * `(doc_id, n_sh, sh_h)` with one row per *distinct* shingle hash.
    *
    * Built relationally — posexplode words, window-`lead` to form the
    * n-gram, hash, distinct-by aggregate — so every operator stays inside
    * whole-stage codegen. The array/lambda route ([[shinglesFromWords]]) runs
    * the shingle transform interpreted, and worse, `explode` above it
    * makes the optimizer push an inferred `size(sh) > 0` filter into the
    * scan, substituting the whole shingle expression — inside an
    * interpreted lambda every element_at reference then re-runs
    * split(text), quadratic per document. The window shuffles on doc_id,
    * which also parallelizes single-file inputs.
    *
    * Distinctness and set intersection downstream are on the 64-bit
    * xxhash64 of the shingle, not the string: collision probability over
    * a realistic shingle dictionary is ~|dict|²/2⁶⁵ (≪ 1e-6 even at 10⁹
    * shingles), and longs shuffle ~10× smaller than shingle text.
    */
  def shingleIndex(
      df: DataFrame,
      n: Int = 3,
      textCol: String = "text",
      maxDf: Option[Long] = None): DataFrame = {
    val grams = gramRows(df, n, textCol)
      .select(col("doc_id"), xxhash64(col("shingle")).as("sh_h"))
    val distinctSh = grams.groupBy("doc_id", "sh_h").agg(count(lit(1)).as("__m"))
    // stop-shingle cap: drop shingles shared by more than maxDf docs from
    // the shingle *universe* — a viral boilerplate shingle with document
    // frequency d contributes d² join rows, so one hot shingle makes the
    // self-join quadratic in the corpus; capping bounds it at maxDf²
    // per shingle. Jaccard stays exact over the filtered universe (n_sh
    // is recounted AFTER the filter), it just no longer credits
    // boilerplate as similarity — the trade every production near-dup
    // pipeline makes.
    // the distinct relation has up to four consumers (the per-doc
    // cardinality aggregate, the join-back below, and — under maxDf —
    // the hot-shingle aggregate plus both anti-join sides): materialize
    // it once, call-scoped, BEFORE the anti-join, so the gram window
    // never re-runs; an Aggregate's distribution requirement swallows
    // any repartition, so the consumers can't share an exchange instead.
    // Fault-tolerance trade (applies to every call-scoped localCheckpoint
    // in this package): the blocks are executor-local and unreplicated,
    // so losing an executor mid-query fails the query (resubmit) instead
    // of recomputing the lineage — the right trade for these short-lived
    // intra-query materializations; durable `checkpoint()` would cost a
    // full write to reliable storage per call.
    val distinctCk = distinctSh.localCheckpoint()
    val kept = maxDf.fold(distinctCk) { cap =>
      val hot = distinctCk.groupBy("sh_h").agg(count(lit(1)).as("__df"))
        .where(col("__df") > cap)
        .select("sh_h")
      distinctCk.join(hot, Seq("sh_h"), "left_anti")
    }
    // per-doc cardinality joins back without a hint: AQE sees the actual
    // (docs-sized) aggregate output and broadcasts when it fits, falling
    // back to a shuffle join at corpus scales where it wouldn't
    val counts = kept.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    kept
      .join(counts, "doc_id")
      .select(col("doc_id"), col("n_sh"), col("sh_h"))
  }

  /** Near-duplicate pairs by true n-gram Jaccard >= threshold.
    *
    * Strategy: **count-based verification through a hashed inverted
    * index**. Explode each doc's distinct shingles, hash the shingle to
    * a long (64-bit keys shuffle ~10× less than the shingle strings and
    * hash-join faster), self-join on the key, and count shared shingles
    * per (i, j) with a map-side-combining aggregate. The intersection
    * size IS that count — no shingle arrays ever cross the shuffle and
    * no per-pair `array_intersect` runs. A length filter
    * (`t*max(ni,nj) <= min(ni,nj)`, necessary for Jaccard >= t) prunes
    * pairs before the aggregate.
    *
    * Scale: cost is Σ_shingle df² join rows, shuffled as longs; skewed
    * hot shingles are handled by AQE skew-join. At 100 TB, cap df by
    * dropping stop-shingles above a document-frequency bound (trades
    * exactness for a bounded join; not needed at bench scale).
    */
  def ngramJaccardPairs(
      df: DataFrame,
      n: Int = 3,
      threshold: Double = 0.4,
      textCol: String = "text",
      maxShingleDf: Option[Long] = None): DataFrame = {
    // the explicit repartition does double duty: it spreads the inverted
    // index across the cluster even when the input is one small file (a
    // single-partition scan would serialize the join + partial agg), and
    // the two self-join branches dedupe into one ReusedExchange
    val inv = shingleIndex(df, n, textCol, maxShingleDf).repartition(col("sh_h"))
    val a = inv.select(col("sh_h"), col("doc_id").as("i"), col("n_sh").as("ni"))
    val b = inv.select(col("sh_h"), col("doc_id").as("j"), col("n_sh").as("nj"))
    a.join(b, Seq("sh_h"))
      .where(col("i") < col("j") &&
        col("nj") >= lit(threshold) * col("ni") &&
        col("ni") >= lit(threshold) * col("nj"))
      .groupBy("i", "j", "ni", "nj")
      .agg(count(lit(1)).as("inter"))
      .withColumn(
        "jaccard",
        round(col("inter").cast("double") / (col("ni") + col("nj") - col("inter")), 4))
      .where(col("jaccard") >= threshold)
      .select("i", "j", "jaccard")
  }

  /** Cross-document duplicated-shingle fraction — the "how much of this
    * document exists elsewhere in the corpus" quality signal (the
    * duplicated-n-gram family of filters large training pipelines run
    * alongside near-dup removal): per document, the share of its
    * distinct n-gram shingles whose corpus document frequency is ≥ 2.
    *
    * Same hashed gram relation as [[ngramJaccardPairs]]'s index, but
    * instead of a self-join it feeds a document-frequency aggregate
    * (map-side combined, longs only) that joins back once on the hash —
    * cost is the gram window plus two long-keyed shuffles of the
    * distinct (doc, shingle) relation, never pairs. Skewed viral
    * shingles are heavy join *keys* (AQE-skew-splittable) with partial
    * combine on the aggregate side — a COUNT *window* over sh_h would
    * put every occurrence of a hot shingle into one unsplittable task
    * instead. */
  def dupShingleFraction(
      df: DataFrame,
      n: Int = 3,
      textCol: String = "text"): DataFrame = {
    // the distinct relation is consumed twice (df aggregate + probe
    // side); materialize it once, call-scoped, like [[minhashLshPairs]]'s
    // signature relation — an Aggregate's distribution requirement
    // swallows any explicit repartition, so without this the two
    // branches re-derive the gram window rather than sharing an exchange
    val distinct = gramRows(df, n, textCol)
      .select(col("doc_id"), xxhash64(col("shingle")).as("sh_h"))
      .distinct()
      .localCheckpoint()
    val dfreq = distinct.groupBy("sh_h").agg(count(lit(1)).as("__df"))
    distinct.join(dfreq, "sh_h")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_sh"),
        sum((col("__df") >= 2).cast("long")).as("n_dup"))
      .select(
        col("doc_id"), col("n_sh"), col("n_dup"),
        round(col("n_dup").cast("double") / col("n_sh"), 4).as("dup_frac"))
  }

  /** Cross-corpus contamination check — the train/eval decontamination
    * pass every benchmark-clean training pipeline runs: emit
    * `(train_id, test_id, n_shared)` for train docs sharing at least
    * `minShared` distinct n-gram shingles with a test doc. Same
    * inverted-index shape as [[ngramJaccardPairs]] (hashed shingles,
    * equi-join, count aggregate — never all-pairs), but across two
    * corpora, so cost is Σ_shingle df_train × df_test: the test corpus
    * is typically tiny, which keeps the join linear in the train side.
    * `maxShingleDf` bounds hot boilerplate shingles exactly as in the
    * self-join case. */
  def crossCorpusOverlap(
      train: DataFrame,
      test: DataFrame,
      n: Int = 3,
      minShared: Long = 5,
      textCol: String = "text",
      maxShingleDf: Option[Long] = None): DataFrame = {
    val tr = shingleIndex(train, n, textCol, maxShingleDf)
      .select(col("sh_h"), col("doc_id").as("train_id"))
    val te = shingleIndex(test, n, textCol, maxShingleDf)
      .select(col("sh_h"), col("doc_id").as("test_id"))
    tr.join(te, "sh_h")
      .groupBy("train_id", "test_id")
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Exact-substring decontamination — the stronger eval-contamination
    * check production pipelines pair with [[crossCorpusOverlap]]'s
    * shingle overlap: emit `(test_id, train_id, n_hits)` for test docs
    * sharing an exact CHARACTER substring with a train doc.
    *
    * Windowed alignment trick (suffix-array-free exact matching): the
    * train side takes `window`-char substrings at `stride` (linear in
    * the corpus, 1/stride windows per char); the test side takes EVERY
    * `window`-char substring (stride 1 — the eval corpus is the small
    * side by construction). Any common substring of length
    * ≥ `window + stride − 1` must contain a stride-aligned train
    * window in full, so detection at that length is exact — and the
    * join is on window CONTENT, so there are no false positives at any
    * length. `n_hits` counts the distinct shared windows.
    *
    * Scale shape: per-side distinct (map-side combined), one equi-join
    * on the window — never all-pairs; cost is Σ_window df_train ×
    * df_test, linear in the train side for a small eval set. At 100 TB
    * the window key would pre-hash to 8 bytes (xxhash64) with identical
    * plan shape; the raw string key here keeps the DuckDB oracle an
    * exact twin. */
  def exactSubstringContamination(
      train: DataFrame,
      test: DataFrame,
      window: Int = 40,
      stride: Int = 10,
      textCol: String = "text"): DataFrame = {
    def windows(df: DataFrame, step: Int, idCol: String): DataFrame =
      df.select(
          col("doc_id").as(idCol),
          explode(sequence(lit(1),
            greatest(length(col(textCol)) - lit(window - 1), lit(1)),
            lit(step))).as("p"),
          col(textCol))
        .select(col(idCol), expr(s"substr($textCol, p, $window)").as("w"))
        .where(length(col("w")) === window)
        .distinct()
    windows(test, 1, "test_id")
      .join(windows(train, stride, "train_id"), "w")
      .groupBy("test_id", "train_id")
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Seeded linear-permutation parameters (a, b) for MinHash, shared
    * with the oracle SQL. Modulus is prime and < 2^28 so a*x+b stays
    * far from long overflow. */
  val MINHASH_MOD: Long = 268435399L
  def permutations(k: Int = 16, seed: Long = 42L): Seq[(Long, Long)] = {
    val r = new scala.util.Random(seed)
    Seq.fill(k)((1L + r.nextInt((MINHASH_MOD - 1).toInt).toLong,
      r.nextInt((MINHASH_MOD - 1).toInt).toLong))
  }

  /** MinHash-LSH near-dup pairs: per-permutation signature, band the
    * signature, bucket-join on (band, key), verify candidates with true
    * Jaccard. `bands * rows` must equal the permutation count.
    *
    * Shape: the window-`lead` gram builder ([[gramRows]]) keeps shingle
    * construction inside whole-stage codegen (the array/`transform`
    * formulation evaluated every shingle interpreted), then ONE hash
    * aggregate per doc computes the k-permutation signature as k
    * codegen'd `min((a*h+b) mod M)` columns — min over the NON-distinct
    * gram multiset equals min over the set, so no distinct pass runs —
    * alongside `collect_set(xxhash64(shingle))` for the verification
    * arrays (hashed, not the strings; see the in-body comment).
    * Verification joins those arrays to the candidate pairs only (the
    * LSH-surviving few), intersecting locally: the full gram relation is
    * never re-shuffled per candidate (a candidate-constrained equi-join
    * back through the gram rows re-shuffles the whole index and loses to
    * this at 10× scale).
    *
    * The signature relation is MATERIALIZED ONCE (eager
    * `localCheckpoint`): it has three consumers — banding, and both
    * sides of the verification join — and without the materialization
    * each one re-runs the full gram window + the 17-column aggregate
    * (the `collect_set` arrays make every recompute GC-heavy on top;
    * this was a measured 2.7× regression at 10× scale). One copy is one
    * row per doc — the cheapest relation in the pipeline — and exactly
    * what a production minhash pipeline checkpoints between its banding
    * and verification stages. `localCheckpoint` rather than `persist`:
    * a CacheManager entry is keyed by the canonicalized plan and
    * outlives the query, so repeated invocations would silently serve
    * the first run's cache; the checkpoint is scoped to this call and
    * GC-reclaimed with it.
    *
    * The signature arithmetic (28-bit [[wordHash]],
    * linear perms mod [[MINHASH_MOD]]) is shared bit-for-bit with the
    * DuckDB oracle. */
  def minhashLshPairs(
      df: DataFrame,
      perms: Seq[(Long, Long)] = permutations(),
      bands: Int = 4,
      threshold: Double = 0.4,
      n: Int = 3,
      textCol: String = "text"): DataFrame = {
    require(perms.length % bands == 0, "bands must divide the signature length")
    val rows = perms.length / bands
    // The verification sets are collected as xxhash64(shingle) LONGS,
    // not shingle strings (guide §2.3 "shuffle keys and metadata
    // instead of payloads"): the arrays exist only to compute
    // |A ∩ B| / |A ∪ B| per candidate pair, and set sizes and
    // intersection counts over the 64-bit hashes equal the string-set
    // ones unless two distinct shingles of one candidate pair collide
    // in 2^64 (probability ~|union|²/2^65 per pair, ≪ 1e-10 even at
    // 10^4-shingle documents — same argument, same hash, as
    // [[ngramJaccardPairs]]'s index, which the DuckDB oracle has
    // matched since r8). The long arrays are ~2.5× narrower through
    // the checkpoint and both verification shuffles, and
    // array_intersect compares longs instead of strings. The MINHASH
    // signature arithmetic (28-bit [[wordHash]] into the linear perms)
    // is untouched — it stays bit-for-bit the oracle's.
    val sigs = gramRows(df, n, textCol)
      .withColumn("__h", wordHash(col("shingle")))
      .groupBy("doc_id")
      .agg(
        collect_set(xxhash64(col("shingle"))).as("sh"),
        perms.zipWithIndex.map { case ((a, b), i) =>
          min((lit(a) * col("__h") + lit(b)) % MINHASH_MOD).as(s"__m$i")
        }: _*)
      .withColumn("n_sh", size(col("sh")))
      .localCheckpoint()
    // Band keys ride the candidate exchange PACKED: every per-
    // permutation min is < 2^28 ([[MINHASH_MOD]]), so a pair of mins
    // packs injectively into one 56-bit long — equality of the packed
    // struct is exactly equality of the min tuple, so the candidate
    // set is unchanged while the exchange rows shrink ~2× vs the
    // pre-r13 concat_ws string key (~35 bytes) and the join compares
    // longs instead of strings (guide §2.3 "narrower types").
    def packedBandKey(bi: Int): Column = {
      val ms = (0 until rows).map(ri => col(s"__m${bi * rows + ri}"))
      val packed = ms.grouped(2).map(g =>
        g.reduceLeft((hi, lo) => hi * lit(1L << 28) + lo)).toSeq
      struct(packed.zipWithIndex.map { case (c, gi) => c.as(s"k$gi") }: _*)
    }
    // candidates stay (band, i, j) only — the shingle arrays join back in
    // once per *candidate pair*, not per banded row
    val banded = sigs.select(
      col("doc_id"),
      posexplode(array((0 until bands).map(packedBandKey): _*))
        .as(Seq("band", "band_key")))
    val a = banded.select(col("band"), col("band_key"), col("doc_id").as("i"))
    val b = banded.select(col("band"), col("band_key"), col("doc_id").as("j"))
    val candidates = a.join(b, Seq("band", "band_key"))
      .where(col("i") < col("j"))
      .select("i", "j")
      .dropDuplicates("i", "j")
    val di = sigs.select(col("doc_id").as("i"), col("sh").as("sh_i"), col("n_sh").as("ni"))
    val dj = sigs.select(col("doc_id").as("j"), col("sh").as("sh_j"), col("n_sh").as("nj"))
    candidates
      .join(di, "i").join(dj, "j")
      .withColumn("inter", size(array_intersect(col("sh_i"), col("sh_j"))))
      .withColumn(
        "jaccard",
        round(col("inter").cast("double") / (col("ni") + col("nj") - col("inter")), 4))
      .where(col("jaccard") >= threshold)
      .select("i", "j", "jaccard")
  }

  /** Connected components of an undirected edge set — the *cluster*
    * step of a near-dup pipeline: LSH/Jaccard emit pairs, but "drop all
    * but one copy" needs the transitive closure (doc A ~ B, B ~ C must
    * collapse to ONE cluster even when A ~ C was never emitted).
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) — the
    * distributed-join formulation, not a vertex-program: each half-round
    * is one hash aggregate (`min` per node, map-side combined) plus an
    * equi-join back on the SAME key, so the aggregate's exchange is
    * reused and a round costs two shuffles of the (shrinking) edge set.
    * Converges in O(log n) rounds on any graph; near-dup graphs (many
    * tiny dense clusters) converge in 2–3. Compare GraphX/pregel-style
    * label propagation: O(diameter) rounds and a full vertex+edge state
    * shuffle per round.
    *
    * Each round's edge set is eagerly `localCheckpoint`'d: an iterative
    * DataFrame loop otherwise stacks every prior round's shuffles into
    * one ever-growing lineage that re-executes per action (and the
    * convergence check IS an action per round).
    *
    * Convergence is detected by an order-insensitive checksum
    * (count + bit_xor of per-edge xxhash64 — the edge set is distinct,
    * so XOR never self-cancels; a sum would overflow ANSI longs) of the
    * oriented edge set being stable across a full round — one tiny
    * aggregate per round, no driver-side edge materialization ever.
    *
    * Returns `(node, component)` — component = minimum node id in the
    * component — one row per node that appears in `edges`. Nodes with no
    * edge (singleton docs) are absent by construction; callers keep them
    * implicitly (see [[dedupSurvivors]]).
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 25): DataFrame = {
    val Seq(cu, cv) = edges.columns.take(2).toSeq
    val sc = edges.sparkSession.sparkContext
    // localCheckpoint blocks are RDD-cached, which Dataset.unpersist
    // does NOT reach — without explicit release every superseded round
    // stays resident until driver GC (up to maxIter edge-set copies).
    // Free the previous round's blocks as soon as the (eager) successor
    // no longer reads them. The checkpoint's RDD ids are read off the
    // returned plan's own LogicalRDD leaves — never by diffing the
    // context-global persistent-RDD registry, which would misattribute
    // (and later unpersist) RDDs a concurrent caller persisted in the
    // same SparkContext while the checkpoint job ran. Like every
    // localCheckpoint here, the loop state is executor-local and
    // unreplicated: an executor loss mid-loop fails the job (caller
    // resubmits and the loop restarts from the edges) rather than
    // recomputing lineage — acceptable because each round is minutes,
    // not the job-scale hours durable checkpointing is built for.
    def checkpointTracked(df: DataFrame): (DataFrame, Set[Int]) = {
      val out = df.localCheckpoint()
      val ids = out.queryExecution.analyzed.collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
      }.toSet
      // Loud-fail if the plan-leaf pattern ever stops matching (verified
      // on Spark 4.1: a localCheckpoint'd Dataset analyzes to exactly one
      // LogicalRDD leaf): an empty id set would silently turn release()
      // into a no-op and reintroduce the up-to-maxIter cached-copy leak.
      require(ids.nonEmpty,
        "localCheckpoint plan has no LogicalRDD leaf - release() would leak")
      (out, ids)
    }
    def release(ids: Set[Int]): Unit =
      ids.foreach(id =>
        sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
    def orient(e: DataFrame): DataFrame =
      e.select(greatest("u", "v").as("u"), least("u", "v").as("v"))
    var (cur, curIds) = checkpointTracked(orient(
      edges.select(col(cu).cast("long").as("u"), col(cv).cast("long").as("v"))
        .where(col(cu).cast("long") =!= col(cv).cast("long")))
      .distinct())
    def checksum(e: DataFrame): (Long, Long) = {
      val r = e.agg(
        count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    var last = checksum(cur)
    var it = 0
    var converged = false
    while (!converged && it < maxIter) {
      // large-star: every neighbor v > u links to min(Γ(u) ∪ {u})
      val sym = cur.union(cur.select(col("v").as("u"), col("u").as("v")))
      val lsMin = sym.groupBy("u").agg(min("v").as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      val ls = sym.join(lsMin, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v"))
      // small-star on the (now naturally oriented) result: every smaller
      // neighbor of u — and u itself — links to u's minimum neighbor
      val o = orient(ls).distinct()
      val ssMin = o.groupBy("u").agg(min("v").as("m"))
      val ss = o.join(ssMin, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v"))
        .union(ssMin.select(col("u"), col("m").as("v")))
        .distinct()
      val (ssCk, ssIds) = checkpointTracked(ss)
      release(curIds) // the eager successor no longer reads these blocks
      val sig = checksum(ssCk)
      converged = sig == last
      last = sig
      cur = ssCk
      curIds = ssIds
      it += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIter rounds")
    // fixpoint is a star forest: each non-root points straight at its
    // component min; roots are exactly the nodes never on the left side
    val roots = cur.select(col("v").as("node")).distinct()
      .join(cur.select(col("u").as("node")).distinct(), Seq("node"), "left_anti")
      .select(col("node"), col("node").as("component"))
    cur.select(col("u").as("node"), col("v").as("component")).union(roots)
  }

  /** Documents surviving near-duplicate clustering: one representative —
    * the minimum `idCol` — per duplicate cluster, singletons untouched.
    * The end-to-end shape every training-data pipeline runs: pairs (from
    * [[minhashLshPairs]] / [[ngramJaccardPairs]]) → transitive closure →
    * anti-join the non-representatives away. The anti-join's right side
    * is one row per *duplicate* doc (≪ corpus at realistic dup rates),
    * which AQE broadcasts when it fits. */
  def dedupSurvivors(
      docs: DataFrame,
      pairs: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    val dropped = connectedComponents(pairs)
      .where(col("node") =!= col("component"))
      .select(col("node").as(idCol))
    docs.join(dropped, Seq(idCol), "left_anti")
  }

  /** 32-bit SimHash over word-token hashes (with multiplicity): bit b is
    * the sign of the sum of ±1 contributions from each token's bit b.
    *
    * Shape: explode tokens, then ONE hash aggregate with 32 codegen'd
    * conditional sums (map-side partials, tiny shuffle rows). The
    * array-lambda alternative (32 `aggregate` HOFs per doc) runs
    * interpreted outside whole-stage codegen and is ~10× slower.
    * `split` never yields an empty array, so no doc is lost to explode. */
  def simhash(df: DataFrame, textCol: String = "text"): DataFrame = {
    val tok = df
      .select(col("doc_id"), explode(words(col(textCol))).as("w"))
      .select(col("doc_id"), wordHash(col("w")).as("h"))
    val bitSums = (0 until 32).map(b =>
      sum((shiftright(col("h"), b) % 2) * 2 - 1).as(s"__s$b"))
    val sim = (0 until 32).map(b =>
      when(col(s"__s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    tok.groupBy("doc_id")
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), sim.as("simhash"))
  }
}
