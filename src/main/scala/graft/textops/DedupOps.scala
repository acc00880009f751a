package graft.textops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document-deduplication family for training-data pipelines:
  * exact, n-gram Jaccard (inverted-index exact), MinHash+LSH
  * (candidate generation + exact verification), SimHash (hamming
  * near-dup), embedding-cosine near-dup.
  *
  * Scale design notes:
  *  - exact dedup: one shuffle on xxhash64(text) — group on the hash,
  *    not the full text, so shuffle keys are 8 bytes;
  *  - jaccard: the shared pair-counting kernel over a shingle inverted
  *    index instead of all-pairs; hot shingles are capped by document
  *    frequency to bound the quadratic blowup exactly the way public
  *    near-dup pipelines do;
  *  - minhash: signatures are one narrow shuffle per doc; banding makes
  *    candidate generation an equi-join; exact-verify keeps precision 1.
  */
object DedupOps {

  /** Exact dedup: canonical (min) doc id + cluster size per distinct text. */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(xxhash64(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_dups"))

  /** Distinct word-n-gram shingles per doc. The token array is
    * let-bound so it is computed once per row, not once per n-gram
    * (TextOps.let — CollapseProject guard). */
  def shingleSets(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        TextOps.let(TextOps.tokens(col(textCol)),
          toks => array_distinct(TextOps.shingles(toks, n))).as("shs"))
      .filter(size(col("shs")) > 0)

  /** Exact n-gram Jaccard pairs with similarity >= tau: the shingle
    * inverted index fed to the [[graft.dedup.PairDedup.pairCounts]]
    * kernel (its guards are listed there), plus the retained-universe
    * sizes and the tau filter. `maxDf` excludes a shingle present in
    * more than maxDf docs from the WHOLE shingle universe (stopword-gram
    * guard at scale): the default 500 caps any one shingle at ~125k
    * pairs, where a cap of 10^6 would let one hot shingle emit 5·10^11.
    * Excluded shingles are removed from both the pair evidence
    * (`common`) AND the per-doc sizes, so the filter is a consistent
    * exact Jaccard over the retained universe — dropping them only from
    * the numerator would silently deflate similarity for docs dominated
    * by mid-frequency shingles. The oracle SQL models the same cap.
    * Output: (id1, id2, common, size1, size2) — integers only; id1 < id2. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, tau: Double, maxDf: Long = 500L): DataFrame = {
    val sets = shingleSets(docs, idCol, textCol, n)
    val inv = sets.select(explode(col("shs")).as("item"),
      col("doc_id").cast("long").as("k"))
    graft.dedup.PairDedup.pairCounts(inv, maxDf, "ngramJaccardPairs") { (counts, hot) =>
      // Retained-universe sizes: the raw set sizes unless hot shingles
      // exist, in which case each doc's size counts only shingles with
      // df <= maxDf (broadcast anti-join against the tiny hot set).
      val sizes = hot() match {
        case None => sets.select(col("doc_id"), size(col("shs")).as("sz"))
        case Some(h) => inv.join(broadcast(h), Seq("item"), "left_anti")
          .groupBy(col("k").as("doc_id")).agg(count(lit(1)).as("sz"))
      }
      counts.select(col("k1").as("id1"), col("k2").as("id2"), col("n_common").as("common"))
        .join(sizes.select(col("doc_id").as("id1"), col("sz").as("size1")), "id1")
        .join(sizes.select(col("doc_id").as("id2"), col("sz").as("size2")), "id2")
        .filter(col("common") * (1.0 + tau) >= lit(tau) * (col("size1") + col("size2")))
        .select("id1", "id2", "common", "size1", "size2")
    }
  }

  // ---------------------------------------------------------------
  // Cross-engine polynomial hashing. xxhash64 is Spark-only; these
  // folds are exact integer arithmetic any engine reproduces (the
  // fingerprint pattern, TextOps.fingerprint), so the MinHash/SimHash
  // outputs below are DuckDB-oracle-checkable, not rows-only.
  // ---------------------------------------------------------------
  private[textops] val CHAR_M = 1048573L // prime < 2^20: per-token char-fold space
  val P = 2147483647L // 2^31 - 1: shingle / permutation space

  /** Per-token polynomial char hash mod m:
    * fold (h*131 + ord(char)) % m, left to right. Composable form —
    * kept as the executable specification of
    * [[graft.functions.TextHashExprs.tokenCodeOf]] (TextHashSpec). */
  def tokenCode(t: Column, m: Long): Column =
    when(length(t) === 0, lit(0L)).otherwise(
      aggregate(
        transform(sequence(lit(1), length(t)),
          i => ascii(t.substr(i, lit(1))).cast("long")),
        lit(0L), (h, c) => (h * 131L + c) % m))

  /** The distinct-shingle-codes COLUMN for a text column (native fused
    * kernel) — composable into shared per-document fact projections
    * (Corpus.docFacts). */
  def shingleCodesOf(text: Column, n: Int): Column =
    graft.functions.TextHashExprs.shingleCodesCol(
      TextOps.tokens(text), n, CHAR_M, P)

  /** The k-permutation MinHash signature COLUMN over a shingle-code
    * array column (native fused kernel; same composability). */
  def minhashSigOf(shc: Column, k: Int): Column =
    graft.functions.TextHashExprs.minhashSigCol(shc, hashParams(k), P)

  /** Distinct n-token shingle CODES per doc: per-token char codes once,
    * then a rolling polynomial over each n-window — 8 bytes per shingle
    * instead of the string (the shuffle-key discipline at 100 TB), and
    * portable to the oracle engine. Native fused kernel;
    * [[shingleCodesHof]] is the composable form it matches bit-for-bit. */
  def shingleCodes(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        shingleCodesOf(col(textCol), n).as("shc"))
      .filter(size(col("shc")) > 0)

  /** The higher-order-function formulation of the shingle-code column —
    * the executable specification of the native kernel (TextHashSpec). */
  def shingleCodesHof(textCol: Column, n: Int): Column =
    TextOps.let(
      transform(TextOps.tokens(textCol), t => tokenCode(t, CHAR_M)),
      codes => array_distinct(
        when(size(codes) >= n,
          transform(sequence(lit(0), size(codes) - n), i =>
            (0 until n).foldLeft(lit(0L))((h, j) =>
              (h * 8191L + element_at(codes, (i + j + 1).cast("int"))) % P)))
          .otherwise(array().cast("array<long>"))))

  /** MinHash permutation coefficients h_i(x) = (a_i * x + b_i) mod P —
    * fixed and public so the oracle SQL is generated from the SAME
    * values. Products stay < 2^62 (ANSI-safe). */
  def hashParams(k: Int): Seq[(Long, Long)] =
    (0 until k).map(i => (1103515245L * (i + 1) % P, 12345L + 2654435761L * i % P))

  /** Shuffle-FREE signature computation: the whole k-permutation min is
    * a per-row array expression (shingle codes once, then k mins over
    * the code array) — minhashing is embarrassingly parallel and must
    * not shuffle at 100 TB. Output: (doc_id, shc, sig array<long>[k]). */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, k: Int): DataFrame =
    shingleCodes(docs, idCol, textCol, n)
      .select(col("doc_id"), col("shc"),
        graft.functions.TextHashExprs.minhashSigCol(
          col("shc"), hashParams(k), P).as("sig"))

  /** The k-fold array_min formulation of the MinHash signature — the
    * executable specification of the native kernel (TextHashSpec). */
  def minhashSigHof(shc: Column, k: Int): Column =
    TextOps.let(shc,
      xs => array(hashParams(k).map { case (a, b) =>
        array_min(transform(xs, x => (lit(a) * x + lit(b)) % lit(P)))
      }: _*))

  /** LSH candidate pairs from banded signatures (bands of r rows), then
    * EXACT Jaccard verification >= tau over the shingle-code sets
    * (precision 1 up to code collisions ~2^-31; recall governed by the
    * (k, r) banding curve). */
  def minhashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                          n: Int = 3, k: Int = 64, r: Int = 2,
                          tau: Double = 0.5): DataFrame =
    minhashNearDupPairsFromSigs(
      minhashSignatures(docs, idCol, textCol, n, k), k, r, tau)

  /** [[minhashNearDupPairs]] over a PRECOMPUTED (doc_id, shc, sig)
    * frame (a shared per-document fact projection — Corpus.docFacts):
    * banding, candidate equi-join and exact verification all read the
    * one frame, so the corpus is scanned once, not twice. Rows with an
    * empty shingle set are excluded exactly as the scan path does. */
  def minhashNearDupPairsFromSigs(sigIn: DataFrame, k: Int = 64, r: Int = 2,
                                  tau: Double = 0.5): DataFrame = {
    val sig = sigIn.select(col("doc_id"), col("shc"), col("sig"))
      .filter(size(col("shc")) > 0)
    val nBands = k / r
    val buckets = sig.select(col("doc_id"),
        posexplode(array((0 until nBands).map { b =>
          concat_ws(",", (0 until r).map(j =>
            element_at(col("sig"), b * r + j + 1).cast("string")): _*)
        }: _*)).as(Seq("band", "bucket")))
    val cand = buckets.alias("a").join(buckets.alias("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()
    // exact verify on candidates only — same frame, no re-scan
    val sets = sig.select(col("doc_id"), col("shc"))
    val verified = cand
      .join(sets.select(col("doc_id").as("id1"), col("shc").as("shc1")), "id1")
      .join(sets.select(col("doc_id").as("id2"), col("shc").as("shc2")), "id2")
      .withColumn("common", graft.functions.TextHashExprs
        .intersectCountCol(col("shc1"), col("shc2")))
      .withColumn("size1", size(col("shc1")))
      .withColumn("size2", size(col("shc2")))
      .filter(col("common") * (1.0 + tau) >= lit(tau) * (col("size1") + col("size2")))
    verified.select("id1", "id2", "common", "size1", "size2")
  }

  /** Positional (non-distinct) k-token shingle codes per doc: one row
    * per window start — (doc_id, pos, code), pos = 0-based token index.
    * Same per-token char-fold + rolling-poly arithmetic as
    * [[shingleCodes]], minus the distinct: span detection needs every
    * occurrence, in order. Map-only (posexplode per row, no shuffle);
    * the per-window inner fold is O(k) — fine for span-grain k (tens),
    * and the whole expression stays inside whole-stage codegen. */
  def positionalShingleCodes(docs: DataFrame, idCol: String,
                             textCol: String, k: Int): DataFrame = {
    require(k >= 1, s"span shingle width must be >= 1: $k")
    // Per-token char codes via the native kernel (TextHashExprs) — the
    // composable transform(t => tokenCode(t, m)) interprets one lambda
    // step per CHARACTER; bit-identity is TextHashSpec's contract. The
    // O(k) rolling fold per window stays composable (k is span-grain).
    val windows = TextOps.let(
      graft.functions.TextHashExprs.tokenCodesCol(
        TextOps.tokens(col(textCol)), CHAR_M),
      codes => when(size(codes) >= k,
        transform(sequence(lit(0), size(codes) - k), i =>
          (0 until k).foldLeft(lit(0L))((h, j) =>
            (h * 8191L + element_at(codes, (i + j + 1).cast("int"))) % P)))
        .otherwise(array().cast("array<long>")))
    docs.select(col(idCol).cast("long").as("doc_id"),
      posexplode(windows).as(Seq("pos", "code")))
  }

  /** Cross-document REPEATED-SPAN detection (substring-level dedup —
    * the suffix-array family's output shape, built from the bounded
    * shingle machinery): a k-token window is HOT when its code occurs
    * in >= 2 DISTINCT documents; per doc, maximal runs of consecutive
    * hot window starts merge into one excision row
    * (doc_id, span_start, span_len), token units, span_len =
    * run_length + k - 1. Integer-only -> DuckDB-checkable bit-for-bit
    * (code collisions ~2^-31 affect both engines identically).
    *
    * Scale: the hot test needs only df >= 2 over DISTINCT (doc, code) —
    * one shuffle on 8-byte codes with O(1) reducer state (count), never
    * a posting list; the run merge is one window shuffle on doc_id,
    * bounded by document length. No unbounded buffer anywhere. */
  def repeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pos = positionalShingleCodes(docs, idCol, textCol, k)
    val hot = pos.select(col("doc_id"), col("code")).distinct()
      .groupBy(col("code")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2).select(col("code"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    // gaps-and-islands: consecutive positions share (pos - row_number)
    pos.join(hot, Seq("code"), "left_semi")
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) - min(col("pos")) + lit(k)).cast("long").as("span_len"))
      .select(col("doc_id"), col("span_start"), col("span_len"))
  }

  /** KEEP-ONE SPAN EXCISION — the output stage of substring-level
    * dedup (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better": remove every repeated span occurrence
    * EXCEPT the first): a k-token window occurrence is excised iff its
    * code is hot (>= 2 distinct docs) AND the occurrence is not the
    * globally first one (min (doc_id, pos) per code — deterministic,
    * oracle-replicable). A token survives iff no excised window covers
    * it; documents are rewritten with the survivors in order. Exact
    * full-document duplicates therefore come back as text_clean = ''
    * while the min-doc_id original is untouched.
    *
    * Output: (doc_id, n_before, n_removed, text_clean).
    *
    * Scale: the keep-one pick is an argmin aggregate on 8-byte codes
    * (map-side partial — a million-occurrence stop-phrase code never
    * concentrates in one sort partition); the
    * covered-index set explodes each excised occurrence into k rows
    * (occurrences are hot windows only — never the whole corpus); the
    * rewrite is token-grain posexplode -> left_anti on (doc_id, idx)
    * -> re-aggregate ordered by idx. Re-aggregation state per key is
    * ONE document's tokens — the same bound as holding the document
    * row itself. An HOF-filter alternative (no token shuffle) was
    * rejected: array_contains per token is O(n_tokens × n_excised) =
    * quadratic on heavily-duplicated docs. */
  def exciseRepeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                          k: Int): DataFrame = {
    val pos = positionalShingleCodes(docs, idCol, textCol, k)
    val hot = pos.select(col("doc_id"), col("code")).distinct()
      .groupBy(col("code")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2).select(col("code"))
    val occ = pos.join(hot, Seq("code"), "left_semi")
    // global-first pick as an ARGMIN AGGREGATE, not a per-code
    // row_number window: a stop-phrase window code can have millions of
    // occurrences, and a window sorts them all in one partition —
    // min(struct) partially aggregates map-side, so the hot code never
    // concentrates
    val first = occ.groupBy(col("code"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("keep"))
    val excised = occ.join(first, Seq("code"))
      .filter(struct(col("doc_id"), col("pos")) =!= col("keep"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(k - 1))).as("idx"))
      .distinct()
    val toks = docs.select(col(idCol).cast("long").as("doc_id"),
        posexplode(TextOps.tokens(col(textCol))).as(Seq("idx", "tok")))
    val kept = toks.join(excised, Seq("doc_id", "idx"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(array_join(transform(
          array_sort(collect_list(struct(col("idx"), col("tok")))),
          s => s.getField("tok")), " ").as("text_clean"),
        count(lit(1)).as("n_after"))
    docs.select(col(idCol).cast("long").as("doc_id"),
        TextOps.tokenCount(col(textCol)).cast("long").as("n_before"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_before"),
        (col("n_before") - coalesce(col("n_after"), lit(0L))).as("n_removed"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }

  /** Benchmark k-gram DECONTAMINATION (the eval-overlap filter every
    * public training-data pipeline runs before training — GPT-3 appx C
    * / PaLM-style 8-gram overlap): per training doc, how many of its
    * distinct k-token shingles also occur in the benchmark corpus, as
    * an exact integer fraction. Output:
    * (doc_id, n_grams, n_matched, contam_milli, flagged) — flagged when
    * contam_milli >= tauMilli. Same portable shingle codes as the dedup
    * family, so the oracle engine reproduces it bit-for-bit.
    *
    * Scale: the benchmark side is a DIMENSION (eval suites are a few
    * thousand docs) — its distinct code set broadcasts; the training
    * corpus is scanned ONCE (sizes ride the explode via a let-bound
    * projection), the only fact-side shuffle is the per-doc count on
    * 8-byte doc_id keys with map-side partial aggregation. Docs shorter
    * than k tokens have no k-gram evidence and are absent (same rule as
    * the dedup family). */
  def decontaminate(docs: DataFrame, benchmark: DataFrame, idCol: String,
                    textCol: String, k: Int, tauMilli: Int): DataFrame = {
    require(k >= 1, s"decontamination shingle width must be >= 1: $k")
    require(tauMilli >= 0 && tauMilli <= 1000,
      s"tauMilli must be a milli fraction in [0, 1000]: $tauMilli")
    val bench = broadcast(
      shingleCodes(benchmark, idCol, textCol, k)
        .select(explode(col("shc")).as("code")).distinct()
        .withColumn("hit", lit(1L)))
    val ex = shingleCodes(docs, idCol, textCol, k)
      .select(col("doc_id"), size(col("shc")).cast("long").as("n_grams"),
        explode(col("shc")).as("code"))
    ex.join(bench, Seq("code"), "left")
      .groupBy(col("doc_id"))
      .agg(max(col("n_grams")).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_matched"))
      .withColumn("contam_milli",
        floor(col("n_matched") * 1000 / col("n_grams")).cast("long"))
      .withColumn("flagged", col("contam_milli") >= tauMilli)
  }

  /** Portable 31-bit SimHash per doc: bit b of the signature is the
    * sign of Σ_tokens (±1 per bit b of the token's char-poly hash).
    * Pure column expressions — whole-stage codegen, no typed map, and
    * bit-identical in the oracle engine. */
  def simhashSignature(textCol: Column, bits: Int = 31): Column =
    graft.functions.TextHashExprs.simhashSigCol(
      graft.functions.TextHashExprs.tokenCodesCol(
        TextOps.tokens(textCol), P), bits)

  /** The per-bit aggregate formulation of SimHash — the executable
    * specification of the native kernel (TextHashSpec). */
  def simhashSigHof(textCol: Column, bits: Int = 31): Column =
    TextOps.let(
      transform(TextOps.tokens(textCol), t => tokenCode(t, P)),
      hs => (0 until bits).map { b =>
        val cnt = aggregate(hs, lit(0L), (acc, h) =>
          acc + shiftright(h, b).bitwiseAND(lit(1L)) * 2L - 1L)
        when(cnt > 0, lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ + _))

  /** SimHash near-dup pairs with hamming distance <= maxHamming.
    * Banding on 4×8-bit chunks of the 31-bit signature: a pair within
    * hamming 3 must agree on at least one chunk (pigeonhole), so
    * candidates are an equi-join — never all-pairs. */
  def simhashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                          maxHamming: Int = 3): DataFrame =
    simhashNearDupPairsFromSigs(
      docs.select(col(idCol).as("doc_id"),
        simhashSignature(col(textCol)).as("sig")), maxHamming)

  /** [[simhashNearDupPairs]] over a PRECOMPUTED (doc_id, sig) frame
    * (a shared per-document fact projection). */
  def simhashNearDupPairsFromSigs(sigs: DataFrame,
                                  maxHamming: Int = 3): DataFrame = {
    val chunks = sigs.select(col("doc_id"), col("sig"),
        explode(array((0 until 4).map(i =>
          struct(lit(i).as("chunk"),
            shiftright(col("sig"), i * 8).bitwiseAND(lit(0xFFL)).as("val"))): _*)).as("c"))
      .select(col("doc_id"), col("sig"), col("c.chunk"), col("c.val"))
    chunks.alias("a").join(chunks.alias("b"),
        col("a.chunk") === col("b.chunk") && col("a.val") === col("b.val") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        col("a.sig").as("sig1"), col("b.sig").as("sig2"))
      .distinct()
      .withColumn("hamming", bit_count(col("sig1").bitwiseXOR(col("sig2"))))
      .filter(col("hamming") <= maxHamming)
      .select("id1", "id2", "hamming")
  }

  /** Near-duplicate CLUSTERS with a canonical representative — the step
    * after pair detection that an actual dedup run needs: near-dup is
    * not transitive, so "keep one per pair" over chained pairs
    * (A~B, B~C) either drops too much or keeps both ends of a chain.
    * Connected components over the pair graph (the Kiveris et al.
    * large-star/small-star engine this library already ships for
    * canonical-ID resolution) give each doc its duplicate-cluster id =
    * the MIN doc id reachable from it; the kept document is the
    * cluster minimum (`is_canonical`), everything else is the drop
    * list. Singletons — docs in no pair — are their own cluster of 1.
    *
    * Output: (doc_id, cluster_id, cluster_size, is_canonical).
    *
    * Scale: inherits the CC engine's posture (per-round star steps are
    * groupBy-min on 8-byte keys with partial aggregation, O(log n)
    * rounds); cluster_size is ONE window over cluster_id — near-dup
    * clusters are small by construction (a pair graph thresholded at
    * tau), so per-partition window state is bounded. */
  def dupClusters(pairs: DataFrame, docs: DataFrame,
                  idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = pairs.sparkSession
    val edges = pairs.select(col("id1").as("src"), col("id2").as("dst"))
    val verts = docs.select(col(idCol).as("v")).distinct()
    graft.cc.ConnectedComponents.run(spark, edges, Some(verts))
      .select(col("member").as("doc_id"), col("component").as("cluster_id"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy("cluster_id")))
      .withColumn("is_canonical", col("doc_id") === col("cluster_id"))
  }
}
