package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline (SURVEY §2.3),
  * over the `documents` table.
  *
  * Scale design: none of these ever forms an O(n²) cross product.
  * Candidate pairs come only from equality joins on content keys
  * (exact hash, shared shingle, LSH band bucket), so the shuffle is
  * bounded by actual collisions; exact verification runs per
  * candidate pair.
  */
object Dedup {

  /** Whitespace-normalized, lowercased content. */
  private[operators] def normalized(text: Column): Column =
    lower(trim(regexp_replace(text, "\\s+", " ")))

  /** The exact-dedup identity: md5 of normalized content. Shared by
    * [[exact]] and the cleaning pipeline so the key (and its SQL
    * oracle twin) is defined once.
    */
  def contentHash(text: Column): Column = md5(normalized(text))

  /** Exact dedup: md5 of normalized content → keep the smallest
    * doc_id per group. One shuffle on the hash; md5 hex is identical
    * across engines so this is fully SQL-checkable.
    */
  def exact(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), contentHash(col("text")).as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))

  /** Incremental exact dedup — the daily-ingest shape: survivors of
    * `batch` are its first copy per content hash ([[contentHash]],
    * the same identity as [[exact]]) that does not already appear
    * anywhere in `corpus`.
    *
    * Scale design: within-batch dedup is one shuffle on the hash
    * (map-side combined min); the corpus check is a hash-partitioned
    * LEFT ANTI join on the same key — at 100 TB the corpus side is
    * far too large to broadcast, and an anti join ships only
    * (hash) pairs, never payloads. A real deployment would keep the
    * corpus's hash table materialized (bucketed by content_hash) so
    * daily runs skip re-hashing history; the join shape is unchanged.
    */
  def incrementalDedup(corpus: DataFrame, batch: DataFrame): DataFrame = {
    val firstInBatch = batch
      .select(col("doc_id"), contentHash(col("text")).as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("doc_id"))
    val corpusHashes = corpus.select(contentHash(col("text")).as("content_hash"))
    firstInBatch.join(corpusHashes, Seq("content_hash"), "left_anti")
      .select(col("doc_id"), col("content_hash"))
  }

  /** SQL for the distinct word-n-gram shingle array over a pre-split
    * token array column `ws` — defined once so the exploded shingle
    * table ([[wordShingles]]) and the zero-shuffle per-doc set-size
    * projection in [[ngramJaccard]] can never disagree.
    */
  private def shingleArraySql(n: Int): String = {
    // try_element_at per offset, NOT slice(ws, i, n): slice copies an
    // n-element array per position — O(words·n) allocations per doc —
    // while n fixed element lookups are allocation-free. try_ (not
    // element_at) because the one clamped position of a doc shorter
    // than n words reads past the end, which ANSI mode makes fatal;
    // concat_ws skips the resulting nulls, matching slice's
    // truncation byte-for-byte.
    val parts = (0 until n).map(j => s"try_element_at(ws, CAST(i + $j AS INT))").mkString(", ")
    s"array_distinct(transform(sequence(1, greatest(size(ws) - ${n - 1}, 1)), " +
      s"i -> concat_ws(' ', $parts)))"
  }

  private def tokenArray(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
      split(trim(normalized(col("text"))), "\\s+").as("ws"))

  /** Distinct word n-gram shingles per document: (doc_id, shingle). */
  def wordShingles(documents: DataFrame, n: Int = 3): DataFrame =
    tokenArray(documents)
      .select(col("doc_id"), explode(expr(shingleArraySql(n))).as("shingle"))

  /** Per-doc distinct-shingle set sizes as a pure scalar projection —
    * zero shuffle, no pass over the exploded shingle table. Shared by
    * [[ngramJaccard]] and [[TextAnalysis.contamination]].
    */
  def shingleSetSizes(documents: DataFrame, n: Int = 3): DataFrame =
    tokenArray(documents)
      .select(col("doc_id"), size(expr(shingleArraySql(n))).cast("long").as("n_sh"))

  /** Exact n-gram Jaccard over candidate pairs that share ≥1 shingle.
    * The shared-shingle equality join bounds candidates; set sizes
    * come from a pre-aggregated per-doc count. SQL-expressible, so
    * fully oracle-checked.
    *
    * `maxShingleDf` caps candidate fan-out: per-shingle posting lists
    * longer than the cap are dropped before pair expansion. Without
    * the cap, candidate generation costs O(Σ_shingle df²) — one
    * ubiquitous stop-word shingle at corpus scale is quadratic on its
    * own. With it, the worst shingle emits ≤ cap² pairs, so candidate
    * volume is ≤ cap²·|distinct shingles| regardless of corpus size.
    * The cap affects RECALL only, conservatively: a pair is missed
    * (or its `shared` count undercounted) only through shingles so
    * common they carry no near-dup signal; at the shipped cap
    * (100 ≫ the sf0.1 max df of 25) results are bit-identical to the
    * uncapped computation. The SQL oracle mirrors the cap so the gate
    * pins the capped semantics, not just today's data.
    */
  def ngramJaccard(documents: DataFrame, n: Int = 3, minJaccard: Double = 0.2,
                   maxShingleDf: Int = 100): DataFrame = {
    // The denominator always uses the FULL set size (zero-shuffle
    // scalar projection), so Jaccard stays exact for every pair the
    // cap lets through.
    val counts = shingleSetSizes(documents, n)
    // ONE pass over the exploded shingles: per-shingle sorted posting
    // list, df-capped by dropping lists longer than maxShingleDf. Each
    // kept row is ≤ cap doc_ids, so the pair expansion below is ≤
    // cap·(cap−1)/2 structs per shingle — bounded per row regardless
    // of corpus size.
    val postings = wordShingles(documents, n)
      .groupBy("shingle")
      .agg(array_sort(collect_list(col("doc_id"))).as("docs"))
      .filter(size(col("docs")).between(2, maxShingleDf))
    // Candidate pairs straight off each posting list (all i < j
    // combinations; the sort makes doc_a < doc_b). This replaces the
    // previous capped SELF-JOIN: the shingle table is now computed
    // once and shuffled once, instead of being recomputed for the
    // df-filter and for both join sides (~5× the map-side work and a
    // join shuffle that carried every capped shingle row twice).
    val pairs = postings.select(explode(expr(
      "flatten(transform(docs, (d, i) -> transform(slice(docs, i + 2, size(docs)), " +
        "e -> named_struct('doc_a', d, 'doc_b', e))))")).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
    val shared = pairs.groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared"))
    val j = col("shared").cast("double") /
      (col("ca.n_sh") + col("cb.n_sh") - col("shared"))
    shared
      .join(counts.as("ca"), col("doc_a") === col("ca.doc_id"))
      .join(counts.as("cb"), col("doc_b") === col("cb.doc_id"))
      .filter(j >= minJaccard)
      .select(col("doc_a"), col("doc_b"), round(j, 4).as("jaccard"))
  }

  /** SQL for POSITIONED word l-gram shingles over a pre-split token
    * array `ws`: array<struct<pos, shingle>>, pos 1-based, one entry
    * per window start — NOT distinct (every occurrence counts, unlike
    * [[shingleArraySql]]: span dedup needs within-doc repeats too).
    * Documents shorter than l tokens emit nothing: the generated
    * clamped position fails the trailing filter, so no CASE branch
    * has to agree on an empty-array type. try_element_at for the same
    * ANSI reason as [[shingleArraySql]]; the filtered-out short rows
    * are the only place a null could reach concat_ws.
    */
  private def posShingleSql(l: Int): String = {
    val parts = (0 until l).map(j => s"try_element_at(ws, CAST(i + $j AS INT))").mkString(", ")
    s"filter(transform(sequence(1, greatest(size(ws) - ${l - 1}, 1)), " +
      s"i -> struct(CAST(i AS INT) AS pos, concat_ws(' ', $parts) AS shingle)), " +
      s"s -> s.pos + ${l - 1} <= size(ws))"
  }

  /** Span-level exact-substring dedup (the Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better"
    * ExactSubstr step, re-expressed for Spark): find, per document,
    * the maximal token spans whose every `spanTokens`-token window
    * occurs at least twice ANYWHERE in the corpus — including a
    * second time in the same document, which is how boilerplate
    * headers/footers and copy-pasted paragraphs present. Doc-level
    * dedup ([[exact]], [[minhashLsh]]) misses these entirely: two
    * long documents sharing one paragraph are nowhere near
    * whole-document duplicates, yet a trained model memorizes the
    * repeated paragraph all the same. Output: one row per maximal
    * span — (doc_id, span_start, span_end, span_tokens), token
    * positions 1-based inclusive — the mask a cleaning pipeline cuts
    * or down-weights.
    *
    * The suffix-array construction of the paper is replaced by the
    * shuffle-native equivalent at fixed granularity: positioned
    * L-token shingles, a corpus-wide occurrence count, and a
    * gaps-and-islands merge of overlapping duplicated windows
    * (windows at positions p and q merge iff |p − q| < L, i.e. the
    * spans genuinely overlap; adjacent-but-disjoint duplicates stay
    * separate spans). Every arithmetic step is integer, so the DuckDB
    * oracle reproduces spans bit-for-bit.
    *
    * Scale design: the shingle table is computed once; the occurrence
    * count is one map-side-combined shuffle on the shingle; the
    * duplicated-window filter is a LEFT SEMI equality join on the
    * same key (only duplicated keys ship back); the island merge is
    * one doc_id shuffle whose final (doc_id, grp) aggregation reuses
    * the window's hash partitioning (doc_id is a prefix — no fourth
    * exchange). Nothing is quadratic: a shingle repeated R times
    * contributes R rows, not R² pairs — span dedup never needs the
    * pair expansion doc-level Jaccard needs, which is why it stays
    * cheap even on the pathological all-boilerplate corpus. At 100 TB
    * the only knob is shuffling md5(shingle) instead of the shingle
    * text to shrink shuffle payloads; semantics are unchanged.
    */
  def duplicatedSpans(documents: DataFrame, spanTokens: Int = 8): DataFrame = {
    val ps = positionedShingles(documents, spanTokens)
    val dup = ps.groupBy("shingle").agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2).select("shingle")
    val dupPos = ps.join(dup, Seq("shingle"), "left_semi").select("doc_id", "pos")
    spansFromDupPositions(dupPos, spanTokens)
  }

  /** Span-dedup APPLICATION: cut every flagged span out of its
    * document, in the same normalized token space the spans were
    * found in. Output: (doc_id, clean_text, n_tokens,
    * dropped_tokens) for every document — the "ExactSubstr then cut"
    * step of Lee et al. 2022 (they cut rather than drop documents:
    * the surrounding prose is unique and worth keeping).
    *
    * Scale design: the span table is joined once on doc_id (only
    * flagged docs carry spans — an inner join plus a LEFT ANTI pass-
    * through for the rest), spans per doc ride as one collected
    * array (bounded by doc length), and the cut itself is a pure
    * scalar projection — `filter` with a position lambda against the
    * span array, no explode, no second shuffle.
    */
  def applySpanDedup(documents: DataFrame, spans: DataFrame): DataFrame = {
    val sp = spans.groupBy("doc_id")
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("sps"))
    val ws = split(trim(normalized(col("text"))), "\\s+")
    val flagged = documents.join(sp, Seq("doc_id"))
      .withColumn("ws", ws)
      .withColumn("kept", filter(col("ws"), (w, i) =>
        !exists(col("sps"), s =>
          (i + lit(1)) >= s.getField("span_start") &&
            (i + lit(1)) <= s.getField("span_end"))))
      .select(col("doc_id"),
        array_join(col("kept"), " ").as("clean_text"),
        size(col("ws")).cast("long").as("n_tokens"),
        (size(col("ws")) - size(col("kept"))).cast("long").as("dropped_tokens"))
    val untouched = documents.join(sp, Seq("doc_id"), "left_anti")
      .select(col("doc_id"),
        array_join(ws, " ").as("clean_text"),
        size(ws).cast("long").as("n_tokens"),
        lit(0L).as("dropped_tokens"))
    flagged.unionByName(untouched)
  }

  /** Positioned L-token windows: (doc_id, pos, shingle), every
    * occurrence (NOT distinct). Shared by [[duplicatedSpans]] and its
    * streaming face ([[graft.streaming.EventStreams]] span ingest).
    */
  private[graft] def positionedShingles(documents: DataFrame, spanTokens: Int): DataFrame = {
    require(spanTokens >= 2, s"spanTokens must be >= 2, got $spanTokens")
    tokenArray(documents)
      .select(col("doc_id"), explode(expr(posShingleSql(spanTokens))).as("s"))
      .select(col("doc_id"), col("s.pos").as("pos"), col("s.shingle").as("shingle"))
  }

  /** The gaps-and-islands merge: duplicated window positions →
    * maximal spans. One doc_id shuffle; the final (doc_id, grp)
    * aggregate reuses the window's partitioning (doc_id prefix).
    */
  private[graft] def spansFromDupPositions(dupPos: DataFrame, spanTokens: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("pos")
    // lag is null on each doc's first window -> CASE falls through to
    // 1 (a new island), matching the SQL oracle's CASE exactly.
    val islands = dupPos
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(w) < spanTokens, lit(0L))
          .otherwise(lit(1L)))
      .withColumn("grp", sum(col("brk")).over(w))
    islands.groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + (spanTokens - 1)).cast("long").as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + lit(1L)).as("span_tokens"))
  }

  /** MinHash signatures: k seeded min-hashes over the doc's shingle
    * set. `xxhash64(shingle, seed_i)` gives k independent-enough hash
    * families entirely inside codegen (no UDF).
    */
  def minhashSignatures(documents: DataFrame, n: Int = 3, k: Int = 32): DataFrame = {
    val sh = wordShingles(documents, n)
    val mins = (0 until k).map(i => min(xxhash64(col("shingle"), lit(i))).as(s"mh_$i"))
    sh.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** FUZZY benchmark decontamination: near-duplicate pairs BETWEEN a
    * training corpus and an eval/benchmark set — the MinHash face of
    * the exact n-gram contamination audit
    * ([[graft.operators.TextAnalysis.contamination]]), catching the
    * paraphrased/truncated benchmark copies exact n-gram hits miss
    * (the GPT-3-era fuzzy-decontamination step).
    *
    * Same LSH machinery as [[minhashLsh]] but the candidate join is
    * train-side buckets × EVAL-side buckets only — never train×train:
    * at 100 TB of train against a few MB of benchmarks, the eval
    * bucket table is broadcast-sized and the candidate volume is
    * bounded by eval collisions, not corpus self-collisions. Output:
    * (doc_a = train doc, doc_b = eval doc, jaccard ≥ minJaccard) —
    * the drop-list a pretraining run subtracts.
    */
  def fuzzyContamination(trainDocs: DataFrame, evalDocs: DataFrame,
                         n: Int = 3, k: Int = 32, bands: Int = 8,
                         minJaccard: Double = 0.5): DataFrame = {
    val tb = minhashBandBuckets(trainDocs, n, k, bands)
    val eb = minhashBandBuckets(evalDocs, n, k, bands)
    val candidates = tb.as("a")
      .join(broadcast(eb).as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    verifyJaccardSets(
      shingleHashSets(trainDocs.unionByName(evalDocs), n), candidates, minJaccard)
  }

  /** MinHash + LSH near-dup pairs: signatures → b bands of r rows →
    * band-bucket equality self-join → exact Jaccard verification of
    * the candidates only. At 100 TB the only shuffles are the
    * signature aggregation and the band-key join; no pair is ever
    * formed except via a bucket collision.
    */
  def minhashLsh(documents: DataFrame, n: Int = 3, k: Int = 32, bands: Int = 8,
                 minJaccard: Double = 0.5): DataFrame = {
    val buckets = minhashBandBuckets(documents, n, k, bands)
    val candidates = buckets.as("a")
      .join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    verifyJaccardSets(shingleHashSets(documents, n), candidates, minJaccard)
  }

  /** (doc_id, band, bucket) LSH rows — [[minhashLsh]]'s candidate key,
    * exposed so the streaming maintenance face
    * ([[graft.streaming.IngestStreams.nearDedupIngest]]) bands each
    * micro-batch with the IDENTICAL hash family the batch operator
    * uses (xxhash64 signatures and band keys — no RNG, so a
    * maintained bucket table and a from-scratch banding agree
    * bit-for-bit).
    */
  def minhashBandBuckets(documents: DataFrame, n: Int = 3, k: Int = 32,
                         bands: Int = 8): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val r = k / bands
    val sig = minhashSignatures(documents, n, k)
    val bandCols = (0 until bands).map { b =>
      val cols = (b * r until (b + 1) * r).map(i => col(s"mh_$i"))
      struct(lit(b).as("band"), xxhash64(cols: _*).as("bucket"))
    }
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** Per-doc distinct shingle-hash set — the exact-verification side
    * of the LSH family, exposed for the same streaming reuse.
    */
  def shingleHashSets(documents: DataFrame, n: Int = 3): DataFrame =
    wordShingles(documents, n)
      .groupBy("doc_id")
      .agg(collect_set(xxhash64(col("shingle"))).as("sh_set"))

  /** Exact Jaccard for given candidate pairs over precomputed
    * [[shingleHashSets]] rows (array_intersect on bounded per-doc
    * arrays).
    */
  def verifyJaccardSets(sets: DataFrame, candidates: DataFrame,
                        minJaccard: Double): DataFrame = {
    val inter = size(array_intersect(col("sa"), col("sb"))).cast("double")
    val j = inter / (size(col("sa")) + size(col("sb")) - inter)
    candidates
      .join(sets.select(col("doc_id"), col("sh_set").as("sa")), col("doc_a") === col("doc_id"))
      .drop("doc_id")
      .join(sets.select(col("doc_id"), col("sh_set").as("sb")), col("doc_b") === col("doc_id"))
      .filter(j >= minJaccard)
      .select(col("doc_a"), col("doc_b"), round(j, 4).as("jaccard"))
  }

  /** Connected components over near-dup pairs: the transitive-closure
    * step of dedup (if A~B and B~C, keep ONE of {A,B,C}). Iterative
    * min-label propagation — each round every node takes the min
    * component id among itself and its neighbors; converges in
    * O(graph diameter) rounds. This is the standard distributed CC
    * (GraphFrames/Pregel shape): per round one join + one aggregate,
    * each round's labels checkpointed, the previous round's freed.
    *
    * Output: (doc_id, component_id = min doc_id in the component) for
    * every doc that appears in at least one pair.
    */
  def connectedComponents(pairs: DataFrame): DataFrame =
    connectedComponentsCounted(pairs)._1

  /** [[connectedComponents]] plus the number of propagation rounds it
    * ran — the O(diameter) cost driver (the complexity spec reads it;
    * production callers use the plain variant).
    */
  def connectedComponentsCounted(pairs: DataFrame): (DataFrame, Int) =
    minLabelComponents(pairs, Int.MaxValue)

  /** EXACTLY-K-round bounded min-label components — the sf1-capable
    * twin of [[connectedComponents]]: each node's label after `rounds`
    * symmetric min-propagation rounds, with NO convergence
    * requirement. The bounded result is a well-defined deterministic
    * function of (pairs, rounds) that an independent engine replays
    * as `rounds` unrolled LINEAR joins — where the converged
    * operator's oracle needs a transitive-closure walk whose
    * node×reach set stops being computable around sf1 (×10 clone
    * cliques square it). On any graph whose diameter ≤ rounds the
    * output IS the converged decomposition (DedupSpec pins both
    * equality there and the deliberate difference on a longer
    * chain). Early exit on saturation is sound: extra rounds are
    * no-ops, so ≤rounds equals exactly-rounds.
    *
    * Output contract of [[connectedComponents]]: (doc_id,
    * component_id) for every doc in ≥ 1 pair.
    */
  def boundedComponents(pairs: DataFrame, rounds: Int = 6): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    minLabelComponents(pairs, rounds)._1
  }

  /** The min-label propagation loop behind [[connectedComponents]]
    * and [[boundedComponents]]: at most `maxRounds` rounds on
    * [[Fixpoint.stable]], stopping early once a round leaves the
    * label sum unchanged (min-propagation strictly decreases it until
    * the fixpoint, so convergence is a scalar checksum, not a join).
    * Every frame is an eager `localCheckpoint`: `pairs` feeds both
    * union branches, so an expensive candidate generator runs once,
    * and each round's plan stays constant-size — `labels` appears
    * twice in it, so an uncut lineage doubles the logical plan every
    * round. Returns the labels and the rounds run; only the result
    * stays persisted.
    */
  private def minLabelComponents(pairs: DataFrame, maxRounds: Int): (DataFrame, Int) = {
    val p = pairs.localCheckpoint(true)
    val edges = p.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(p.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .distinct()
      .localCheckpoint(true)
    Checkpoints.free(p)
    val labels0 = edges.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
      .localCheckpoint(true)
    // coalesce(0) keeps the empty-graph case total (sum of no rows is null)
    def labelSum(df: DataFrame): Long =
      df.agg(coalesce(sum(col("comp")), lit(0L))).head.getLong(0)
    var rounds = 0
    val labels = Fixpoint.stable(labels0, labelSum(labels0), maxRounds,
        Some(labelSum _)) { (labels, _) =>
      rounds += 1
      val viaNeighbors = edges
        .join(labels, col("dst") === col("id"))
        .groupBy(col("src"))
        .agg(min(col("comp")).as("n_comp"))
      labels
        .join(viaNeighbors, col("id") === col("src"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("n_comp"), col("comp"))).as("comp"))
    }.state
    val out = labels.select(col("id").as("doc_id"), col("comp").as("component_id"))
      .localCheckpoint(true)
    Checkpoints.free(labels)
    Checkpoints.free(edges)
    (out, rounds)
  }

  /** Alternating large-star/small-star connected components (the
    * MapReduce-native CC family; see Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SOCC'14): converges in
    * O(log² n) rounds on ANY topology, vs [[connectedComponents]]'s
    * O(diameter) min-label propagation — on the long chain shapes a
    * real near-dup graph contains (doc A ~ B ~ C ~ ... through
    * successive edits), that is the difference between ~10 rounds and
    * hundreds at 10⁹ nodes. Same output contract as
    * [[connectedComponents]]: (doc_id, component_id = min doc_id in
    * the component) for every doc appearing in ≥1 pair.
    *
    * Per round: large-star points every node's larger neighbors at
    * the min of its neighborhood (breaking up hubs and long tails in
    * parallel), then small-star rewires each node and its smaller
    * neighbors to that min. Each step is one aggregation + one join
    * on the edge set; edges only ever decrease their endpoint labels,
    * and at the fixpoint the graph is a union of stars whose centers
    * are the component minima. Convergence is detected by an
    * order-insensitive edge-set checksum (a scalar agg, not a plan
    * comparison).
    */
  def connectedComponentsAlternating(pairs: DataFrame): DataFrame =
    connectedComponentsAlternatingCounted(pairs)._1

  /** [[connectedComponentsAlternating]] plus its round count — the
    * O(log² n) claim made measurable.
    */
  def connectedComponentsAlternatingCounted(pairs: DataFrame): (DataFrame, Int) = {
    val p = pairs.cache()
    // canonical undirected edge set: (hi > lo), distinct, self-loops out
    var und = p.select(greatest(col("doc_a"), col("doc_b")).as("hi"),
        least(col("doc_a"), col("doc_b")).as("lo"))
      .filter(col("hi") =!= col("lo"))
      .distinct()
      .cache()
    def directed(e: DataFrame): DataFrame =
      e.select(col("hi").as("u"), col("lo").as("v"))
        .union(e.select(col("lo").as("u"), col("hi").as("v")))
    // m(u) = min over Γ(u) ∪ {u}
    def mins(dir: DataFrame): DataFrame =
      dir.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
    def canonical(e: DataFrame): DataFrame =
      e.filter(col("hi") =!= col("lo")).distinct()
    // order-insensitive edge-set fingerprint; materializes the frame,
    // so each round's work is paid exactly once
    def checksum(e: DataFrame): Long =
      // bit_xor: order-insensitive set fingerprint that cannot
      // overflow (ANSI mode makes a sum of hashes throw on long
      // overflow); edges are distinct so xor-cancellation cannot occur
      e.agg(coalesce(expr("bit_xor(xxhash64(hi, lo))"), lit(0L))).head.getLong(0)
    var prev = checksum(und)
    var converged = prev == 0L && und.isEmpty
    var rounds = 0
    while (!converged) {
      rounds += 1
      // large-star: every edge (u, v>u) becomes (v, m(u)) — hubs and
      // chain tails collapse toward local minima in parallel
      val dirL = directed(und)
      val ls = canonical(
        dirL.join(mins(dirL), "u").filter(col("v") > col("u"))
          .select(col("v").as("hi"), col("m").as("lo")))
        .cache()
      // small-star: every edge (u, v<u) becomes (v, m(u)), and u
      // itself links to m(u)
      val dirS = directed(ls)
      val mS = mins(dirS)
      val ss = canonical(
        dirS.join(mS, "u").filter(col("v") < col("u"))
          .select(col("v").as("hi"), col("m").as("lo"))
          .union(mS.select(col("u").as("hi"), col("m").as("lo"))))
        .localCheckpoint(true) // truncate lineage across rounds
      val cur = checksum(ss)
      converged = cur == prev
      prev = cur
      ls.unpersist()
      und.unpersist()
      Checkpoints.free(und)
      und = ss
    }
    // fixpoint = union of stars: every hi is a leaf of exactly one
    // center lo; centers label themselves
    val out = und.select(col("hi").as("doc_id"), col("lo").as("component_id"))
      .union(und.select(col("lo").as("doc_id"), col("lo").as("component_id")))
      .distinct()
      .localCheckpoint(true)
    und.unpersist()
    Checkpoints.free(und)
    p.unpersist()
    (out, rounds)
  }

  /** Apply near-dup dedup to the corpus: drop every doc whose
    * component id is not itself (the canonical member is the min
    * doc_id per component, so exactly one survivor per cluster;
    * docs in no cluster survive untouched). left_anti against the
    * small non-canonical set — no row multiplication.
    */
  def applyNearDupDedup(documents: DataFrame, pairs: DataFrame,
                        compsOf: DataFrame => DataFrame = connectedComponents): DataFrame = {
    // the components builder returns a materialized, lineage-truncated
    // frame, so the drop list below is a cheap scan of it — the
    // pair-generation + iterative CC work is paid exactly once, not
    // re-run inside this query's lineage. `compsOf` defaults to the
    // converged decomposition; the bounded sf1 gate passes
    // [[boundedComponents]] instead — the SAME election/anti-join
    // pipeline under a different label table.
    val dropList = compsOf(pairs)
      .filter(col("doc_id") =!= col("component_id"))
      .select(col("doc_id").as("drop_id"))
    // The non-canonical set is bounded by the duplicated fraction of
    // the corpus; broadcast it so the corpus-side anti join is
    // shuffle-free. A pipeline expecting dup fractions beyond the
    // broadcast budget would drop the hint and let AQE plan the join.
    documents
      .join(broadcast(dropList), col("doc_id") === col("drop_id"), "left_anti")
      .select(col("doc_id"), col("n_chars"))
  }

  /** Centrality-weighted dedup application: like
    * [[applyNearDupDedup]], but the survivor per cluster is the doc
    * with the highest DEGREE in the near-dup graph (ties → min
    * doc_id) — the "keep the most-connected copy" policy: the copy
    * similar to the most other copies is usually the complete one,
    * where min-id keeps whichever crawl happened to arrive first.
    * Degree is an integer edge count, so unlike PageRank-style float
    * centrality this stays bit-exact against the SQL oracle.
    *
    * Cost over [[applyNearDupDedup]]: one extra aggregate over the
    * (already materialized) pair set and one small join per cluster
    * member — both bounded by the duplicated fraction, never the
    * corpus.
    */
  def applyNearDupDedupCentral(documents: DataFrame, pairs: DataFrame,
                               compsOf: DataFrame => DataFrame = connectedComponents): DataFrame = {
    // pair generation is paid exactly once, shared by CC and the
    // degree count (this family of builders runs eagerly, like the
    // iterative CC itself — documented in PlanNotes)
    val p = pairs.localCheckpoint(true)
    val comps = compsOf(p)
    // symmetric directed edge list (input pairs are distinct with
    // doc_a < doc_b, so the union has no duplicates): degree = count
    val degrees = p.select(col("doc_a").as("doc_id"))
      .union(p.select(col("doc_b").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("degree"))
    val ranked = comps.join(degrees, Seq("doc_id"))
    val best = ranked.groupBy("component_id").agg(max("degree").as("dmax"))
    val survivors = ranked.join(best, "component_id")
      .filter(col("degree") === col("dmax"))
      .groupBy("component_id").agg(min("doc_id").as("survivor"))
    val dropList = comps.join(survivors, "component_id")
      .filter(col("doc_id") =!= col("survivor"))
      .select(col("doc_id").as("drop_id"))
    documents
      .join(broadcast(dropList), col("doc_id") === col("drop_id"), "left_anti")
      .select(col("doc_id"), col("n_chars"))
  }

  /** Deterministic fixed-point PageRank over the (undirected) near-dup
    * graph, in integer micro-units: pr₀ = 1_000_000 per node; each of
    * `iters` rounds computes
    * pr'(v) = 150_000 + (85 · Σ_{u∈Γ(v)} (pr(u) div deg(u))) div 100
    * — damping 0.85 in percent arithmetic. EVERY operation is 64-bit
    * integer (div, sum, multiply), so the result is bit-identical
    * under any partitioning or reduction order — the property float
    * PageRank fundamentally lacks (summation order varies per run) and
    * the reason this variant can be spec-pinned against an independent
    * local implementation exactly, not within an epsilon.
    *
    * Cost per round: one broadcast-sized? no — one hash join of the
    * edge list against the pr table on src + one aggregate on dst —
    * both shuffles keyed on node id, the same shape as one
    * [[connectedComponents]] round; `localCheckpoint` per round keeps
    * the logical plan constant-size (the iterative-lineage lesson from
    * CC). Undirected near-dup graphs have no dangling nodes (every
    * node has degree ≥ 1), so no mass-leak correction term is needed;
    * totals stay bounded by nodes·10⁶, far inside Long.
    */
  def pagerankMicros(pairs: DataFrame, iters: Int = 10): DataFrame = {
    val p = pairs.localCheckpoint(true)
    val edges = p.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(p.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .distinct()
    val degrees = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val withDeg = edges.join(degrees, "src").localCheckpoint(true)
    var pr = degrees.select(col("src").as("doc_id"), lit(1000000L).as("pr"))
      .localCheckpoint(true)
    // withDeg and pr-round-0 are materialized: the raw pair
    // checkpoint's blocks are no longer reachable from anything live
    Checkpoints.free(p)
    for (_ <- 0 until iters) {
      val prev = pr
      pr = withDeg.join(pr, col("src") === col("doc_id"))
        .select(col("dst"), expr("pr div deg").as("contrib"))
        .groupBy("dst")
        .agg(sum(col("contrib")).as("s"))
        .select(col("dst").as("doc_id"),
          (lit(150000L) + expr("(85 * s) div 100")).as("pr"))
        .localCheckpoint(true)
      Checkpoints.free(prev)
    }
    Checkpoints.free(withDeg)
    pr
  }

  /** PageRank-weighted dedup application: like
    * [[applyNearDupDedupCentral]] but the survivor per cluster is the
    * doc with the highest [[pagerankMicros]] score (ties → min
    * doc_id). Degree centrality counts only direct edges; PageRank
    * also weighs how central the neighbors are — on chain-of-edits
    * clusters it picks the "hub" revision rather than whichever copy
    * happened to collide with the most others. Integer fixed-point
    * scores keep the argmax deterministic (the reason bare float
    * PageRank was rejected for [[applyNearDupDedupCentral]] no longer
    * applies).
    */
  def applyNearDupDedupPagerank(documents: DataFrame, pairs: DataFrame,
                                iters: Int = 10,
                                compsOf: DataFrame => DataFrame = connectedComponents): DataFrame = {
    val p = pairs.localCheckpoint(true)
    val comps = compsOf(p)
    val pr = pagerankMicros(p, iters)
    // comps and pr are both materialized eager checkpoints; the raw
    // pair snapshot has no remaining consumer
    Checkpoints.free(p)
    val ranked = comps.join(pr, Seq("doc_id"))
    val best = ranked.groupBy("component_id").agg(max("pr").as("pmax"))
    val survivors = ranked.join(best, "component_id")
      .filter(col("pr") === col("pmax"))
      .groupBy("component_id").agg(min("doc_id").as("survivor"))
    val dropList = comps.join(survivors, "component_id")
      .filter(col("doc_id") =!= col("survivor"))
      .select(col("doc_id").as("drop_id"))
    documents
      .join(broadcast(dropList), col("doc_id") === col("drop_id"), "left_anti")
      .select(col("doc_id"), col("n_chars"))
  }

  /** 64-bit SimHash per document: each token's hash votes ±1 on each
    * bit, weighted by its in-doc count; bit i of the simhash is 1 iff
    * the vote sum is positive.
    *
    * ONE typed aggregation pass over the exploded tokens with an
    * Array[Long](64) vote buffer ([[SimhashVoteAggregator]]) — true
    * map-side partial aggregation, 64 longs of state per (partition,
    * doc). The obvious alternative — 64 separate `sum(when(...))`
    * columns — generates a multi-thousand-line aggregate that blows
    * past Janino/JIT method limits and cost ~6 s at sf0.1; the typed
    * buffer is a tight primitive loop instead.
    */
  def simhash(documents: DataFrame): DataFrame = {
    val words = documents
      .select(col("doc_id"),
        explode(split(trim(normalized(col("text"))), "\\s+")).as("word"))
      .select(col("doc_id"), xxhash64(col("word")).as("h"))
    val voteUdaf = udaf(new SimhashVoteAggregator,
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Long]())
    words.groupBy("doc_id").agg(voteUdaf(col("h")).as("simhash"))
  }

  /** SimHash near-dup pairs via banding: splitting 64 bits into `bands`
    * equal slices guarantees (pigeonhole) that any pair within Hamming
    * distance ≤ bands-1 agrees exactly on ≥1 band, so the band
    * equality join finds all of them without O(n²). Defaults: 4 bands
    * of 16 bits ⇒ full recall for the default maxHamming=3.
    *
    * Band width is the recall/cost dial: more bands (narrower slices)
    * cover a larger Hamming radius but collide more. At 10⁹+ docs a
    * 16-bit band has only 65,536 buckets — every bucket would hold
    * ~15k docs and the self-join turns quadratic-per-bucket. The
    * `bucketCap` bounds that: buckets holding more than `bucketCap`
    * docs are dropped from candidate generation (a bucket that full
    * is pure hash-collision noise, not near-dup signal — the same
    * conservative-recall argument as [[ngramJaccard]]'s df cap). The
    * exact Hamming filter after the join keeps precision exact either
    * way.
    */
  def simhashPairs(documents: DataFrame, maxHamming: Int = 3, bands: Int = 4,
                   bucketCap: Int = 100000): DataFrame = {
    require(bands > 0 && 64 % bands == 0, "bands must divide 64")
    // pigeonhole recall guarantee: a pair within maxHamming differs in
    // at most maxHamming bands, so it agrees on ≥1 band only if there
    // are MORE bands than differing bits
    require(bands > maxHamming,
      s"bands ($bands) must exceed maxHamming ($maxHamming) for full recall")
    val bits = 64 / bands
    val mask = if (bits == 64) -1L else (1L << bits) - 1L
    val sh = simhash(documents)
    val banded = sh.select(col("doc_id"), col("simhash"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("simhash"), b * bits).bitwiseAND(mask).as("bucket"))): _*)).as("bb"))
      .select(col("doc_id"), col("simhash"), col("bb.band"), col("bb.bucket"))
    val smallBuckets = banded.groupBy("band", "bucket")
      .agg(count(lit(1)).as("n"))
      .filter(col("n") <= bucketCap)
      .select("band", "bucket")
    val bounded = banded.join(smallBuckets, Seq("band", "bucket"), "left_semi")
    bounded.as("a")
      .join(bounded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Edit-distance (Levenshtein) near-dup pairs via prefix blocking —
    * the entity-resolution staple for "same record, small typo"
    * duplicates that token-set measures miss (a one-char edit inside a
    * word changes the whole shingle neighborhood but costs edit
    * distance 1).
    *
    * Blocking: docs compare only within the same `blockLen`-char title
    * prefix bucket, so candidate generation is an equality join on the
    * block key — never O(n²). The documented recall trade-off of any
    * blocking scheme: an edit inside the first `blockLen` chars splits
    * the pair into different blocks and it is missed (raise recall by
    * unioning a second pass blocked on a suffix or sorted-neighborhood
    * key; same plan shape).
    *
    * `bucketCap` bounds the per-block self-join exactly like
    * [[simhashPairs]]'s cap: a block with more than `bucketCap` members
    * is boilerplate (shared headers, templates), not dup signal, and
    * would otherwise cost cap² pairs × an O(titleLen·maxDist) distance
    * check each.
    *
    * The distance itself runs through Spark's threshold form
    * `levenshtein(a, b, maxDist)` — banded O(titleLen·maxDist) with
    * early exit instead of the full O(titleLen²) table, returning the
    * exact distance iff it is ≤ maxDist (else −1, filtered). Exact
    * distances within the threshold are engine-portable, so the SQL
    * oracle (DuckDB `levenshtein` + the mirrored block/cap CTEs) checks
    * this operator hash-exactly.
    */
  def fuzzyPairs(documents: DataFrame, maxDist: Int = 8, titleLen: Int = 80,
                 blockLen: Int = 8, bucketCap: Int = 200): DataFrame = {
    require(blockLen <= titleLen, "block prefix must lie inside the compared title")
    val t = documents.select(col("doc_id"),
      substring(col("text"), 1, titleLen).as("title"),
      substring(col("text"), 1, blockLen).as("blk"))
    val keep = t.groupBy(col("blk")).agg(count(lit(1)).as("n"))
      .filter(col("n").between(2, bucketCap))
      .select("blk")
    val bounded = t.join(keep, Seq("blk"), "left_semi")
    bounded.as("a")
      .join(bounded.as("b"),
        col("a.blk") === col("b.blk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_id_a"), col("b.doc_id").as("doc_id_b"),
        levenshtein(col("a.title"), col("b.title"), maxDist).cast("long").as("dist"))
      .filter(col("dist").between(0, maxDist))
  }

  // ------------------------------------------------------------------
  // URL canonicalization + URL-level dedup — the crawl-pipeline stage
  // upstream of content dedup: the same page is fetched under many
  // URL spellings (scheme/host case, www, default ports, trailing
  // slash, tracking params, reordered params, fragments), and
  // canonical-URL dedup removes refetch copies BEFORE any text is
  // compared. Pure scalar expressions end to end: canonicalization
  // whole-stage-codegens inside the scan, and the dedup is one
  // map-side-combined aggregate on the canonical string — the
  // cheapest dedup in this file, which is exactly why crawlers run it
  // first at 100 TB.
  // ------------------------------------------------------------------

  /** Canonical form of an absolute http(s) URL, as one scalar Column:
    * lowercase scheme and host, `www.` and default-port strip,
    * fragment drop, `utm_*` tracking-param drop, remaining query
    * params sorted, trailing-slash-insensitive path. Every step is a
    * plain string expression reproducible verbatim in the oracle SQL.
    */
  def canonicalizeUrl(url: Column): Column = {
    val noFrag = split_part(url, lit("#"), lit(1))
    val scheme = lower(split_part(noFrag, lit("://"), lit(1)))
    val rest = split_part(noFrag, lit("://"), lit(2))
    val host0 = regexp_extract(rest, "^[^/?]*", 0)
    val host1 = regexp_replace(lower(host0), "^www\\.", "")
    // A port is droppable only when it is the SCHEME'S default —
    // http://host:443/x and https://host:80/x are distinct resources.
    val host = when(scheme === "http", regexp_replace(host1, ":80$", ""))
      .when(scheme === "https", regexp_replace(host1, ":443$", ""))
      .otherwise(host1)
    val pathq = substring(rest, length(host0) + 1, lit(1000000))
    val path0 = split_part(pathq, lit("?"), lit(1))
    val path1 = regexp_replace(path0, "/+$", "")
    val path = when(path1 === "", lit("/")).otherwise(path1)
    val qs = split_part(pathq, lit("?"), lit(2))
    val kept = array_join(array_sort(
      filter(split(qs, "&"),
        p => p =!= lit("") && !startswith(p, lit("utm_")))), "&")
    concat(scheme, lit("://"), host, path,
      when(kept === "", lit("")).otherwise(concat(lit("?"), kept)))
  }

  /** Fixture-extension shim: the documents table has no URL column,
    * so derive a deterministic messy URL per doc (scheme/host-case /
    * trailing-slash / tracking-param / param-order / fragment
    * variants keyed off doc_id) — the shapes [[canonicalizeUrl]]
    * must collapse. Mirrored verbatim in the `dedup_url` oracle.
    */
  def syntheticUrls(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), concat(
      when(pmod(col("doc_id"), lit(2L)) === 0, lit("HTTP://"))
        .otherwise(lit("http://")),
      when(pmod(col("doc_id"), lit(3L)) === 0, lit("WWW.Example.COM:80"))
        .when(pmod(col("doc_id"), lit(3L)) === 1, lit("www.example.com"))
        .otherwise(lit("example.com")),
      lit("/docs/"), pmod(col("doc_id"), lit(50L)).cast("string"),
      when(pmod(col("doc_id"), lit(5L)) === 0, lit("/")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(4L)) === 0, lit("?utm_source=feed&b=2&a=1"))
        .when(pmod(col("doc_id"), lit(4L)) === 1, lit("?a=1&b=2"))
        .when(pmod(col("doc_id"), lit(4L)) === 2, lit("?b=2&a=1&utm_campaign=x"))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(7L)) === 0, lit("#section")).otherwise(lit("")))
      .as("url"))

  /** URL-level exact dedup on the canonical form — the [[exact]]
    * contract (survivor = min doc_id, copy count) keyed by canonical
    * URL instead of content hash. Input: (doc_id, url). */
  def urlDedup(urls: DataFrame): DataFrame =
    urls.select(col("doc_id"), canonicalizeUrl(col("url")).as("canonical_url"))
      .groupBy("canonical_url")
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))

  // ------------------------------------------------------------------
  // C4-style corpus-level line dedup (Raffel et al. 2020 §2.2: "we
  // removed any line that occurred more than once in the data set",
  // keeping ONE canonical occurrence) — the segment-granularity
  // member between exact whole-doc dedup and the span family: exact
  // whole-doc misses boilerplate shared across otherwise-distinct
  // pages, spans find arbitrary-offset repeats but pay a positioned
  // shingle per character. Line dedup pays ONE key per segment.
  // The synthetic corpus has no newlines, so "lines" are fixed
  // non-overlapping word windows (the ta_passages segmentation).
  // ------------------------------------------------------------------

  /** (doc_id, seg_idx, seg): non-overlapping `wordsPerSeg`-word
    * segments per doc — [[graft.operators.TextAnalysis.passages]]'s
    * transform, pure per-row projection + one explode, zero shuffle. */
  private[graft] def lineSegments(documents: DataFrame, wordsPerSeg: Int): DataFrame =
    documents
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("ws"))
      .select(col("doc_id"),
        posexplode(expr(
          s"transform(sequence(0, (size(ws) - 1) div $wordsPerSeg), " +
            s"i -> array_join(slice(ws, i * $wordsPerSeg + 1, $wordsPerSeg), ' '))"))
          .as(Seq("seg_idx", "seg")))
      .select(col("doc_id"), col("seg_idx").cast("long").as("seg_idx"), col("seg"))

  /** Segment-survivor table: per distinct segment content (keyed by
    * md5 — the [[exact]] identity at segment granularity), the
    * corpus-first occurrence in (doc_id, seg_idx) order and the copy
    * count. ONE map-side-combined aggregate on the content key — a
    * hot boilerplate segment repeated 10⁹× partial-aggregates to one
    * row per map task, where a window-rank formulation would funnel
    * all its copies through a single reducer (the q_salted_agg skew
    * lesson, solved here by min() being combinable). Duplicated-only
    * filter keeps the output bounded by actual duplication. */
  def lineSurvivors(documents: DataFrame, wordsPerSeg: Int = 8): DataFrame =
    lineSegments(documents, wordsPerSeg)
      .select(md5(col("seg")).as("seg_md5"), col("doc_id"), col("seg_idx"))
      .groupBy("seg_md5")
      .agg(min(struct(col("doc_id"), col("seg_idx"))).as("first"),
        count(lit(1)).as("n_copies"))
      .filter(col("n_copies") >= 2)
      .select(col("seg_md5"), col("first.doc_id").as("keep_doc_id"),
        col("first.seg_idx").as("keep_seg_idx"), col("n_copies"))

  /** C4-style global line dedup APPLIED: every segment occurrence
    * except the corpus-first (min (doc_id, seg_idx) per content) is
    * cut, and each doc's surviving segments reassemble in order —
    * (doc_id, n_segs, n_kept, clean_text). A doc made entirely of
    * already-seen segments survives as an empty string with its
    * counts, so the caller owns the drop policy.
    *
    * Plan: segment explode (zero shuffle) → first-occurrence
    * aggregate on the md5 key (map-side combined; only (md5, ids)
    * ride it, never text) → join back on the SAME key (co-partitioned
    * with the aggregate output, no extra exchange on the survivor
    * side) → one doc_id aggregate to reassemble. The text-carrying
    * path is shuffled exactly twice (by content key, by doc), both
    * unavoidable for a global-first rule with reassembly.
    */
  def lineDedup(documents: DataFrame, wordsPerSeg: Int = 8): DataFrame = {
    require(wordsPerSeg >= 1, s"wordsPerSeg must be >= 1, got $wordsPerSeg")
    val segs = lineSegments(documents, wordsPerSeg)
      .withColumn("seg_md5", md5(col("seg")))
    val firsts = segs
      .groupBy("seg_md5")
      .agg(min(struct(col("doc_id"), col("seg_idx"))).as("first"))
      .select(col("seg_md5"), col("first.doc_id").as("k_doc"),
        col("first.seg_idx").as("k_idx"))
    segs.join(firsts, "seg_md5")
      .withColumn("kept", col("doc_id") === col("k_doc") && col("seg_idx") === col("k_idx"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_segs"),
        count(when(col("kept"), lit(1))).as("n_kept"),
        array_join(transform(array_sort(collect_list(when(col("kept"),
            struct(col("seg_idx"), col("seg"))))), x => x.getField("seg")), " ")
          .as("clean_text"))
  }

  // ------------------------------------------------------------------
  // Content-defined chunking (CDC) — the rsync/LBFS boundary rule
  // that makes chunk-level dedup INSERTION-ROBUST: a chunk boundary
  // falls wherever the rolling fingerprint of the last `w` characters
  // hits a fixed residue, so boundaries are a function of LOCAL
  // content only. Insert a word near the start of a document and
  // fixed windows (dedup_spans' granularity) all shift — every
  // downstream window hash changes — while CDC boundaries re-sync at
  // the first post-insertion boundary and every later chunk hashes
  // identically. That is the property storage dedup (venti/LBFS/
  // borg/restic lineage) is built on, and it complements the span
  // family: spans find duplicated REGIONS inside documents, CDC finds
  // shared CONTENT BLOCKS across edited copies.
  //
  // All three chunk tables run on one native Catalyst expression,
  // `cdc_chunks` (org.apache.spark.sql.graftcdc.CdcChunks): the
  // window md5 per position, the min-length fold, the max-length
  // forced cuts and the slicing happen in one primitive loop per
  // document, inside whole-stage codegen, then one explode. No
  // shuffle and no lambda per character position; the DuckDB oracle
  // spells the same rules out as SQL.
  // ------------------------------------------------------------------

  /** Per-document CDC chunk table: (doc_id, chunk_idx, chunk_start
    * 0-based, chunk_len, chunk_md5). Boundary after position i iff
    * bucket(md5(text[i-w+1..i])) ≡ 0 (mod `mask`+1); expected chunk
    * length ≈ mask+1 characters. The [[cdcChunksClamped]] kernel
    * with no minimum (minLen = 1) and no maximum, then one explode —
    * no shuffle at all.
    */
  def cdcChunks(documents: DataFrame, w: Int = 8, mask: Int = 63): DataFrame =
    chunkTable(documents, w, mask, 1, Int.MaxValue)

  /** Chunk-level dedup over [[cdcChunks]] — the [[exact]] survivor
    * contract at CDC-chunk granularity, duplicated chunks only:
    * which content blocks exist in more than one place (across docs
    * OR repeated within one), who holds the canonical copy, and how
    * many copies a chunk store would collapse. One map-side-combined
    * aggregate over the chunk table. */
  def cdcDedup(documents: DataFrame, w: Int = 8, mask: Int = 63): DataFrame =
    duplicatedChunks(cdcChunks(documents, w, mask))

  /** [[cdcChunks]] with the LBFS MINIMUM-CHUNK rule: a boundary is
    * suppressed when it lands fewer than `minLen` characters after
    * the previous KEPT boundary (a sequential walk over the ascending
    * candidates, inside the same per-row kernel — no shuffle).
    * SURVEY §5's CDC rehearsal at 10⁷ chunks is
    * why this exists: with an expected length of only mask+1, the
    * geometric boundary spacing emits a long tail of tiny chunks
    * (sub-25-char content like `"q17 w"` carries no identifying
    * text), and those cross-duplicate between unrelated docs —
    * metadata overhead and noise matches a chunk store pays for
    * nothing, the exact problem LBFS's min-size clamp solves. The
    * doc's final cut is always kept, so a forced short FINAL chunk
    * can still appear (content coverage beats the clamp); minLen=1
    * reproduces [[cdcChunks]] exactly (spec-pinned). A candidate
    * inside the clamp is never hashed. */
  def cdcChunksMin(documents: DataFrame, w: Int = 8, mask: Int = 63,
                   minLen: Int = 16): DataFrame =
    chunkTable(documents, w, mask, minLen, Int.MaxValue)

  /** [[cdcDedup]] over the min-length-clamped chunk table. */
  def cdcDedupMin(documents: DataFrame, w: Int = 8, mask: Int = 63,
                  minLen: Int = 16): DataFrame =
    duplicatedChunks(cdcChunksMin(documents, w, mask, minLen))

  /** The FULL LBFS size envelope: [[cdcChunksMin]]'s minimum rule
    * plus a MAXIMUM — whenever the next kept boundary (or the doc
    * end) is more than `maxLen` past the last cut, boundaries are
    * FORCED at `last + maxLen, last + 2·maxLen, …`, exactly the
    * online walk LBFS does (a forced cut resets the min window, so a
    * natural candidate closer than minLen to the last FORCED cut is
    * suppressed too). The max clamp is what bounds a chunk store's
    * worst case: with only a residue rule, boundary gaps are
    * geometric and the tail is unbounded — a low-entropy run that
    * never hits the residue becomes one giant chunk whose hash
    * changes on any edit (no dedup at all); with the clamp every
    * chunk is ≤ maxLen and re-sync resumes at the next natural
    * boundary. The kernel walks this online; the DuckDB oracle
    * emits the forced cuts arithmetically (newLast = last +
    * maxLen·⌊(b−1−last)/maxLen⌋). maxLen ≥ text length reproduces
    * [[cdcChunksMin]] exactly (spec-pinned). */
  def cdcChunksClamped(documents: DataFrame, w: Int = 8, mask: Int = 63,
                       minLen: Int = 16, maxLen: Int = 128): DataFrame =
    chunkTable(documents, w, mask, minLen, maxLen)

  /** [[cdcDedup]] over the fully size-enveloped chunk table. */
  def cdcDedupClamped(documents: DataFrame, w: Int = 8, mask: Int = 63,
                      minLen: Int = 16, maxLen: Int = 128): DataFrame =
    duplicatedChunks(cdcChunksClamped(documents, w, mask, minLen, maxLen))

  /** The `cdc_chunks` kernel's chunks of every document, each with
    * the md5 of its text. */
  private def chunkTable(documents: DataFrame, w: Int, mask: Int, minLen: Int,
                         maxLen: Int): DataFrame = {
    val chunks = org.apache.spark.sql.graftcdc.CdcFunctions
      .cdcChunks(col("text"), w, mask, minLen, maxLen)
    Checkpoints.cpuSplit(documents)
      .select(col("doc_id"), col("text"), explode(chunks).as("c"))
      .select(col("doc_id"), col("c.chunk_idx"), col("c.chunk_start"),
        col("c.chunk_len"),
        md5(expr("substring(text, CAST(c.chunk_start + 1 AS INT), CAST(c.chunk_len AS INT))"))
          .as("chunk_md5"))
  }

  /** Chunks held more than once: canonical holder, copy count, length. */
  private def duplicatedChunks(chunks: DataFrame): DataFrame =
    chunks.groupBy("chunk_md5")
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"),
        min(col("chunk_len")).as("chunk_len"))
      .filter(col("n_copies") >= 2)
}

/** Vote buffer for [[Dedup.simhash]]: 64 signed counters, one per
  * bit; each token-occurrence hash adds +1 to counter i when its bit
  * i is set, else −1. Associative and commutative, so Spark runs it
  * as a map-side partial aggregate; `finish` folds the counters into
  * the 64-bit simhash.
  */
class SimhashVoteAggregator
    extends org.apache.spark.sql.expressions.Aggregator[Long, Array[Long], Long] {
  override def zero: Array[Long] = new Array[Long](64)
  override def reduce(b: Array[Long], h: Long): Array[Long] = {
    var i = 0
    while (i < 64) { b(i) += ((h >>> i) & 1L) * 2L - 1L; i += 1 }
    b
  }
  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < 64) { a(i) += b(i); i += 1 }
    a
  }
  override def finish(b: Array[Long]): Long = {
    var s = 0L
    var i = 0
    while (i < 64) { if (b(i) > 0) s |= 1L << i; i += 1 }
    s
  }
  override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  override def outputEncoder: org.apache.spark.sql.Encoder[Long] =
    org.apache.spark.sql.Encoders.scalaLong
}
