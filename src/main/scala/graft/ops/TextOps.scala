package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Text-analysis + deduplication operators over the `documents` table —
  * the training-data-pipeline surface (token stats, language-ID heuristic,
  * quality scoring, bottom-k fingerprints, MinHash signatures, MinHash-LSH
  * near-dup pairs, SimHash). Every operator here is hash-based on md5 so the
  * DuckDB oracle can execute the *identical* algorithm — including the LSH
  * banding — giving exact hash parity despite approximate semantics.
  *
  * Scale notes (100 TB): all per-document ops are embarrassingly parallel
  * projections (no shuffle). The LSH join shuffles only (band, signature)
  * keys — the classic near-dup design that avoids the O(n²) pair space; the
  * exact-Jaccard verification joins back on doc_id, shuffle-bounded by the
  * candidate count, not the corpus size.
  */
object TextOps {
  import Tables.{apply => t}

  /** `documents` spread across cores. The test corpus is ONE parquet file
    * (one row-group → one input split), so without this every interpreted
    * higher-order-function pipeline below — shingling, per-shingle md5,
    * MinHash permutations — runs on a single core (measured 7–30 s at
    * sf0.1 for what is <1 s across 32). At 100 TB the corpus arrives in
    * thousands of splits and this repartition is a no-op to remove; the
    * per-doc operators themselves stay shuffle-free projections. */
  private def docs(s: org.apache.spark.sql.SparkSession, d: String) =
    t(s, d, "documents").repartition(col("doc_id"))

  /** md5-derived 60-bit non-negative BIGINT — DuckDB side. Must stay in
    * lockstep with [[graft.functions.TextFunctions.md5Long]]. */
  private def hx(e: String): String = s"('0x' || substr(md5($e),1,15))::BIGINT"

  private val toksCte =
    "toks AS (SELECT doc_id, lang, source, n_chars, text, " +
      "list_filter(string_split(text,' '), x -> x <> '') AS t FROM documents)"

  /** 3-gram word shingles, deduplicated — DuckDB side of
    * [[graft.functions.TextFunctions.shingles]] + array_distinct. */
  private val shCte =
    "sh AS (SELECT doc_id, list_distinct(CASE WHEN len(t) < 3 " +
      "THEN [array_to_string(t,' ')] " +
      "ELSE list_transform(range(1, len(t)-1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END) AS s " +
      "FROM toks)"

  /** DuckDB side of [[graft.functions.TextFunctions.shingleHashes]]:
    * one md5 per shingle, reduced mod P. */
  private def hshCte: String =
    s"hsh AS (SELECT doc_id, s, list_transform(s, x -> ${hx("x")} % $MinhashPrime) AS h FROM sh)"

  /** DuckDB side of [[graft.functions.TextFunctions.minhashFromHashes]]:
    * affine rehash of the pre-hashed shingle list. */
  private def minhashExprSql(j: Int): String = {
    val (a, b) = minhashCoeffs(NumHashes)(j)
    s"list_aggregate(list_transform(h, v -> (v * $a + $b) % $MinhashPrime), 'min')"
  }

  // The DEFAULT MinHash-LSH operating point — the values the correctness
  // gates and every DuckDB oracle CTE are pinned at (the oracle SQL is
  // built eagerly at object init from these).
  private val NumHashes = 16
  private val Bands = 4
  private val RowsPerBand = 4
  private val JaccardThreshold = 0.5

  /** The LSH operating point as SESSION CONFS (VERDICT r14 "what's
    * missing #2"): `NumHashes=16, Bands=4` puts the banding S-curve's
    * midpoint at jaccard ≈ 0.71, so pairs near the 0.5 verification
    * threshold are mostly never candidates (~24 % candidate probability
    * by the collision formula) — self-consistent with the oracle (which
    * replays the same banding) but a RECALL CHOICE a user must be able
    * to make. Defaults are the pinned constants above, so the gates are
    * byte-identical at default confs; the measured recall/cost curve per
    * setting is PROBES.md r15's `lshcurve` table. rowsPerBand is derived
    * (`numHashes / bands` — bands must divide numHashes); the banding
    * S-curve midpoint is ≈ (1/bands)^(bands/numHashes). */
  private[graft] val NumHashesConf = "spark.graft.text.lsh.numHashes"
  private[graft] val BandsConf = "spark.graft.text.lsh.bands"

  private[graft] final case class LshParams(
      numHashes: Int, bands: Int) {
    require(numHashes >= 1 && numHashes <= 1024,
      s"numHashes must be in [1, 1024] (graft_minhash bound), got $numHashes")
    require(bands >= 1 && numHashes % bands == 0,
      s"bands must divide numHashes, got $numHashes hashes / $bands bands")
    def rowsPerBand: Int = numHashes / bands
    def threshold: Double = JaccardThreshold
  }

  private[graft] def lshParams(
      spark: org.apache.spark.sql.SparkSession): LshParams = LshParams(
    spark.conf.get(NumHashesConf, NumHashes.toString).toInt,
    spark.conf.get(BandsConf, Bands.toString).toInt)

  private val stopWords = Seq("the", "a", "of", "and", "to", "in", "is")

  // q76 stratified sampling: per-language quota, md5-hash order
  private val StratQuota = 40

  // q77 shard packing: tokens per output shard
  private val ShardBudget = 4096L
  private val SeqCapacity = 512L

  // q80/q81: 8-token gram window (decontamination + duplicate spans)
  private val GramN = 8
  private val EvalMod = 5

  /** q84 scrub patterns — written in the RE2 ∩ Java-regex common dialect
    * (character classes and bounded quantifiers only) so Spark and DuckDB
    * match identically. Declared BEFORE `defs`: the oracle SQL strings are
    * built eagerly at object init, in declaration order. */
  private val EmailRe = "[A-Za-z0-9._]+@[A-Za-z0-9]+\\.com"
  private val PhoneRe = "555-[0-9]{4}"
  private val IpRe = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  // q64 simhash banding: 4 disjoint bands over the signature; pairs
  // verified at hamming ≤ 3 (pigeonhole-exact candidate recall: ≤ 3
  // differing bits touch ≤ 3 of the 4 bands). The DEFAULT width is
  // 32 bits (8-bit bands) — the operating point every gate and oracle
  // CTE is pinned at.
  private val SimBands = 4
  private val SimBandBits = 8 // oracle-side: DefaultSimhashBits / SimBands
  private[graft] val DefaultSimMaxHamming = 3
  private[graft] val DefaultSimhashBits = 32

  /** SimHash verification RADIUS as a session conf (VERDICT r16 optional
    * #6): the width became a conf in r15 because magnitude moved its
    * operating point, and the radius has the same character — a wider
    * signature can afford a larger radius before the birthday term bites
    * (the acceptance probability sums C(W, 0..h) / 2^W). Pigeonhole-exact
    * candidate recall REQUIRES `h < SimBands` (h differing bits can touch
    * at most h of the bands, so at least one band must stay identical) —
    * validated here, fail-fast. Gates and oracle CTEs stay pinned at the
    * default 3 ([[requireOracleSimhashWidth]] refuses a changed radius
    * the same way it refuses a changed width); a simhash-tier store
    * fingerprints the radius it was built for in its `meta`. */
  private[graft] val SimMaxHammingConf = "spark.graft.text.simhash.maxHamming"

  private[graft] def simMaxHamming(
      spark: org.apache.spark.sql.SparkSession): Int = {
    val h = spark.conf
      .get(SimMaxHammingConf, DefaultSimMaxHamming.toString).toInt
    require(h >= 0 && h < SimBands,
      s"$SimMaxHammingConf must be in [0, ${SimBands - 1}] — pigeonhole " +
        s"candidate recall needs maxHamming < $SimBands bands, got $h")
    h
  }

  /** SimHash signature WIDTH as a session conf (r15, found by the
    * magnitude probe): at hamming ≤ 3 a W-bit simhash pairs a RANDOM doc
    * pair with probability ≈ (1 + W + C(W,2) + C(W,3)) / 2^W — at the
    * default 32 bits that is ~1.28e-6, which over C(1M, 2) pairs yields
    * ~640k accidental edges and PERCOLATES the component graph (measured
    * r15: the 5000-clique's component root landed mid-corpus and 751k of
    * 1M docs were labeled). 32-bit/h≤3 is a sub-1M-corpus operating
    * point; at corpus magnitude set 60 (4 × 15-bit bands, the
    * [[graft.functions.Expressions]] simhash width cap): the birthday
    * term drops to ~3.1e-14 — ≈ 0 accidental pairs even at 8e12
    * candidate pairs. Gates stay at the 32-bit default (the oracle CTEs
    * replay that width); width must be a multiple of 4 so the bands
    * stay disjoint and pigeonhole-exact. */
  private[graft] val SimhashBitsConf = "spark.graft.text.simhash.bits"

  private[graft] def simhashBits(
      spark: org.apache.spark.sql.SparkSession): Int = {
    val b = spark.conf
      .get(SimhashBitsConf, DefaultSimhashBits.toString).toInt
    require(b % SimBands == 0 && b >= 8 && b <= 60,
      s"$SimhashBitsConf must be a multiple of $SimBands in [8, 60] " +
        s"(graft_simhash width cap), got $b")
    b
  }

  /** The simhash GATES (q26/q64/q107) are pinned at the 32-bit default:
    * their oracle CTEs are built eagerly at object init (before any
    * session exists), so they replay [[DefaultSimhashBits]]/
    * [[SimBandBits]] and cannot follow the session conf. Running Verify
    * with [[SimhashBitsConf]] set would fail all three hash gates for a
    * reason the mismatch report can't name (ADVICE r15) — so the gate
    * lambdas refuse up front with the explanation instead. Production
    * callers ([[simhashPairsOf]]/[[simhashEdgesOf]] outside the catalog)
    * are unaffected: the conf is theirs. */
  private[graft] def requireOracleSimhashWidth(
      s: org.apache.spark.sql.SparkSession): Unit = {
    require(simhashBits(s) == DefaultSimhashBits,
      s"the q26/q64/q107 oracles replay the $DefaultSimhashBits-bit " +
        s"default width; $SimhashBitsConf=${simhashBits(s)} would " +
        "hash-mismatch them for an operating-point reason, not a bug — " +
        "unset the conf for gate runs (the width conf is for production " +
        "chains, PROBES.md r15)")
    // same discipline for the verification radius (r17): the oracle CTE
    // replays hamming ≤ DefaultSimMaxHamming
    require(simMaxHamming(s) == DefaultSimMaxHamming,
      s"the simhash oracles replay hamming ≤ $DefaultSimMaxHamming; " +
        s"$SimMaxHammingConf=${simMaxHamming(s)} would hash-mismatch them " +
        "for an operating-point reason, not a bug — unset the conf for " +
        "gate runs")
  }

  /** DuckDB SimHash: majority vote per bit over md5-hashed tokens — the
    * oracle twin of [[graft.functions.TextFunctions.simhash]], shared by
    * q26 (signatures) and q64 (hamming pairing). */
  private def simhashCtes: String = s"$toksCte,\n$simhashCtesNoToks"

  /** [[simhashCtes]] WITHOUT the leading `toks` CTE, for oracles that
    * already carry it through [[lshCtePrefix]] — the simhash-tier screen
    * gate (q109) chains both pair generators in one `WITH`. */
  private def simhashCtesNoToks: String = {
    val bitTerms = (0 until 32).map { b =>
      s"""CASE WHEN list_aggregate(list_transform(h, x ->
         |  CASE WHEN (x >> $b) & 1 = 1 THEN 1 ELSE -1 END), 'sum') > 0
         |  THEN ${1L << b} ELSE 0 END""".stripMargin.replace("\n", " ")
    }.mkString(" + ")
    s"""hashed AS (SELECT doc_id, list_transform(t, tok -> ${hx("tok")}) AS h FROM toks),
       |shsig AS (SELECT doc_id, ($bitTerms)::BIGINT AS simhash FROM hashed)""".stripMargin
  }

  /** The full simhash pair chain (`shsig` → `spairs`) minus `toks`, to
    * append after [[lshCtePrefixForOracle]] (which carries `toks`) in a
    * combined oracle — [[TextScreen]]'s simhash-tier gate. Replays the
    * pinned 32-bit default width like every simhash oracle CTE. */
  private[graft] def simhashTierCtesForOracle: String =
    s"$simhashCtesNoToks,\n$simhashPairCtes"

  /** DuckDB side of [[simhashPairsOf]] (follows [[simhashCtes]]): band
    * rows → candidate bucket join → hamming-verified `spairs`. Shared by
    * q64 (pair listing) and q107 (components). */
  private def simhashPairCtes: String =
    s"""sbands AS (SELECT doc_id, simhash, bb.b AS band,
       |           (simhash >> (bb.b * $SimBandBits)) & ${(1L << SimBandBits) - 1} AS bsig
       |           FROM shsig CROSS JOIN (VALUES (0),(1),(2),(3)) bb(b)),
       |scand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |          FROM sbands a JOIN sbands b
       |            ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
       |spairs AS (SELECT id_a, id_b,
       |        bit_count(xor(x.simhash, y.simhash))::BIGINT AS hamming
       |   FROM scand JOIN shsig x ON x.doc_id = id_a JOIN shsig y ON y.doc_id = id_b
       |   WHERE bit_count(xor(x.simhash, y.simhash)) <= $DefaultSimMaxHamming)""".stripMargin

  /** Verified MinHash-LSH near-dup pairs `(id_a, id_b, jaccard)` — the
    * shared candidate pipeline behind q25 (pair listing) and q63
    * (dedup components).
    *
    * The shingle sets, signatures, and band signatures are INDEX
    * ARTIFACTS — computed once per corpus and then joined against, exactly
    * like the reference's per-update codes pickles
    * (generic_searcher.py:216-225). localCheckpoint materializes them
    * (lineage-truncated, GC-cleaned): without this the self-join evaluates
    * the md5/minhash pipeline once per JOIN SIDE (and the optimizer can
    * inline it into the join), which measured 40×+ slower at sf0.1. At
    * 100 TB this materialization is a signatures table persisted alongside
    * the corpus. `docs()` spreads the single-file scan so the md5/shingle
    * hashing is not single-core. */
  private def lshPairs(s: org.apache.spark.sql.SparkSession, d: String) =
    lshPairsOf(docs(s, d))

  /** Frame-parametric [[lshPairs]] — the same verified pipeline over any
    * `(doc_id, text)` frame, so the collapsed edge generator
    * ([[dedupEdgesOf]]) drives the exact operator the gates pin (the
    * release-magnitude records of this chain are PROBES.md r14/r15).
    *
    * The verification join PRUNES the fat shingle table to candidate ids
    * first (r14, found by the magnitude probe): `sh` rows are ~4 KB
    * serialized (hundreds of shingle strings per doc), so joining the
    * raw table against the candidate list shuffle-writes the whole
    * corpus' shingles TWICE (~2 × corpus bytes of scratch at any size) —
    * for a candidate set that is orders of magnitude smaller. The
    * candidate id list is skinny and its count driver-known (same gate
    * as [[antiJoinIds]]): under the bound it broadcasts and the fat side
    * is scanned map-side, never shuffled; past it the plain shuffle join
    * is the cluster-regime fallback. */
  private[graft] def lshPairsOf(d: org.apache.spark.sql.DataFrame) = {
    // ONE corpus scan computes shingles → hashes → all numHashes
    // permutations FUSED, and only the skinny (id, sig) rows are
    // checkpointed (the sig checkpoint still exists because the
    // band-explode below references the array once per hash — inlined,
    // CollapseProject would re-run the MinHash pipeline per reference).
    // The corpus' shingle ARRAYS are never materialized: r14's magnitude
    // probe measured the old checkpoint of them spilling ~24 GB of
    // block-manager scratch at 4M docs — O(corpus) scratch feeding a
    // verification that only ever reads the CANDIDATES' shingles.
    // Recomputing the candidate slice costs one extra candidate-pruned
    // scan of the input, the right trade at any corpus size.
    // Checkpoint eagerness (r18, measured both ways): eager=false keeps a
    // pin's semantics but fuses its materialization into the first
    // consuming job, saving one driver-scheduled job per pin. It is used
    // ONLY where two conditions hold — the first materializing action
    // scans the frame exactly once (a dual-scan first job, e.g. a
    // self-join, racily double-computes partitions), and the frame is
    // SKINNY (lazily materializing the corpus-sized frames inside their
    // consumer doubled the 4M-doc probe's peak block-manager scratch,
    // 6.6 vs 2.4 GB, and its wall, 130.7 vs 88.4 s — eager checkpoints
    // double as memory barriers between jobs).
    val p = lshParams(d.sparkSession)
    val sig = minhashSigsOf(d, p).localCheckpoint() // EAGER: corpus-sized
    val bands = bandRowsOf(sig, p).localCheckpoint() // EAGER: its first
    // consumer (the self-join below) scans it twice in one job — a lazy
    // pin would racily double-compute the band explode per partition
    // checkpointed: scanned once for the skinny candidate-id list and
    // once per verification side — without the pin the band self-join
    // (the quadratic part on duplicate-heavy corpora) would re-run
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
      .localCheckpoint() // EAGER: first scanned twice (candIds' union legs)
    val candIds = cand.select(col("id_a").as("doc_id"))
      .unionAll(cand.select(col("id_b").as("doc_id")))
      .distinct().localCheckpoint(false)
    // shingles of CANDIDATE docs only: the skinny id list prunes the
    // input map-side (broadcast under the driver-known-count gate, the
    // antiJoinIds bound), shingling runs on the surviving slice, and the
    // O(candidates) result is pinned because both verification sides
    // scan it
    val shSlice = shingleSliceOf(d, candIds).localCheckpoint() // EAGER:
    // both verification sides scan it in the final job
    val j = graft.functions.TextFunctions.jaccard(col("sa"), col("sb"))
    cand
      .join(shSlice.select(col("doc_id").as("id_a"), col("sh").as("sa")), "id_a")
      .join(shSlice.select(col("doc_id").as("id_b"), col("sh").as("sb")), "id_b")
      .where(j >= p.threshold)
      .select(col("id_a"), col("id_b"), j.as("jaccard"))
  }

  /** One fused scan of a `(doc_id, text)` frame: shingles → per-shingle
    * md5 → all `numHashes` MinHash permutations, emitting only the skinny
    * `(doc_id, sig)` rows — the signature INDEX ARTIFACT the batch chain
    * checkpoints and the incremental screen persists
    * ([[TextSigStore]]). */
  private[graft] def minhashSigsOf(d: org.apache.spark.sql.DataFrame,
      p: LshParams): org.apache.spark.sql.DataFrame =
    d.select(col("doc_id"),
      minhashFromHashes(
        distinctShingleHashes(col("text"), 3),
        p.numHashes).as("sig"))

  /** LSH band rows `(doc_id, band, bsig)` from a signatures frame — the
    * band signature is the `rowsPerBand` consecutive sig values joined as
    * a string key (portable across engines; the oracle builds the same
    * key). */
  private[graft] def bandRowsOf(sig: org.apache.spark.sql.DataFrame,
      p: LshParams): org.apache.spark.sql.DataFrame = {
    val bandStructs = array((0 until p.bands).map { b =>
      struct(lit(b.toLong).as("band"),
        concat_ws(":", (0 until p.rowsPerBand).map(r =>
          element_at(col("sig"), b * p.rowsPerBand + r + 1).cast("string")): _*).as("bsig"))
    }: _*)
    sig.select(col("doc_id"), explode(bandStructs).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bsig").as("bsig"))
  }

  /** Distinct 3-shingle arrays of the docs named by the skinny `ids`
    * frame only — `ids` prunes the fat text scan map-side (broadcast
    * under the driver-known-count byte gate, the antiJoinIds bound), so
    * the result is O(|ids|) regardless of corpus size. */
  private[graft] def shingleSliceOf(d: org.apache.spark.sql.DataFrame,
      ids: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val side = if (ids.count() <=
        ccBroadcastRowCap(d.sparkSession, CcBroadcastBytesPerIdRow))
      broadcast(ids) else ids
    d.join(side, "doc_id")
      .select(col("doc_id"), array_distinct(shingles(col("text"), 3)).as("sh"))
  }

  /** Verified near-dup EDGES for the COMPONENT consumers (q63's
    * clustering, q72's corpus materialization; magnitude records in
    * PROBES.md r14):
    * byte-identical documents collapse to one representative BEFORE the
    * LSH, then representative-level verified pairs union with the exact
    * groups' star edges.
    *
    * Why (r14, found by the magnitude probe): boilerplate duplicates are
    * CLIQUE-shaped — K byte-identical docs share every band, so the raw
    * band self-join emits Bands·K²/2 candidate rows (50M rows for one 5k
    * clique) and verifies a fat jaccard on each, quadratic work for
    * edges whose verdict is known (identical text ⇒ jaccard 1). The
    * collapse replaces the clique with K−1 star edges built from ONE
    * map-side-combinable `min(struct(id, text))` aggregation — the C4
    * discipline of exact-dedup-before-near-dedup, executed inside the
    * edge generator.
    *
    * Exactness (CatalogSpec pins it against the raw chain on random
    * corpora with planted exact groups): identical docs always verify at
    * jaccard 1 ≥ threshold, so the star edges are true raw-chain edges;
    * a representative's shingles — and therefore its signatures, bands,
    * and every verified cross-content pair — are byte-identical to each
    * member's, so contracting members onto representatives preserves
    * component membership exactly, and `rep = min(group)` preserves each
    * component's minimum id. Components over these edges EQUAL components
    * over [[lshPairsOf]]'s pairs; only the pair LISTING differs (q25
    * keeps the raw listing — an all-pairs listing is inherently quadratic
    * in clique size, that is its semantics). */
  private[graft] def dedupEdgesOf(d: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    collapsedEdgesOf(d)(lshPairsOf)

  /** [[dedupEdgesOf]] for the SIMHASH chain: the same exact-content
    * collapse in front of q64's hamming banding. Exactness follows the
    * same proof — byte-identical texts tokenize identically, so their
    * simhashes are EQUAL (hamming 0 ≤ the verified radius: star edges
    * are true raw-chain edges), and a representative's simhash — hence
    * its bands and every verified cross-content pair — matches each
    * member's, so contraction preserves component membership exactly
    * (spec-pinned against the raw chain like the MinHash twin). */
  private[graft] def simhashEdgesOf(d: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    collapsedEdgesOf(d)(simhashPairsOf)

  /** The shared exact-content collapse both edge generators run before
    * their banding chain (r14's C4 discipline — exact-dedup before
    * near-dedup, executed inside the edge generator): byte-identical
    * documents contract to one representative via a single
    * map-side-combinable aggregation, the clique becomes K−1 star edges,
    * and `pairsOf` (any verified `(id_a, id_b, …)` pair generator whose
    * verdict is a function of text content alone) runs on representatives
    * only. */
  private def collapsedEdgesOf(d: org.apache.spark.sql.DataFrame)(
      pairsOf: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val (reps, stars) = exactRepsOf(d)
    pairsOf(reps).select("id_a", "id_b").unionAll(stars)
  }

  /** The exact-content contraction itself, shared by [[collapsedEdgesOf]]
    * and the incremental screen's batch side
    * ([[TextScreen.screenPairs]], r15 "what's wrong #2"): byte-identical
    * docs contract onto their min-id representative via one
    * map-side-combinable aggregation. Returns the representatives
    * (`(doc_id, text)`, localCheckpoint-pinned — every caller scans them
    * at least twice: the star join here plus a banding chain) and the
    * contracted cliques' star edges (`id_a` = representative < `id_b` =
    * member — TRUE id order, so the conservative-prefix drop rule reads
    * them like any verified pair).
    *
    * Group key = (md5, byte length): a bare-md5 collision between
    * UNRELATED texts would contract them into one component and emit
    * star edges whose always-verifies verdict was never checked (ADVICE
    * r14); requiring equal length too means a silent contraction needs
    * an equal-length md5 collision — strictly harder than md5's already
    * negligible 2^-64 birthday regime at any real corpus size, and the
    * extra key column costs one codegen'd length() per row. */
  private[graft] def exactRepsOf(d: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val keyed = d.select(col("doc_id"), col("text"),
      md5(col("text")).as("_h"), length(col("text")).as("_l"))
    val reps = keyed.groupBy("_h", "_l")
      .agg(min(struct(col("doc_id"), col("text"))).as("_r"))
      .select(col("_h"), col("_l"),
        col("_r.doc_id").as("doc_id"), col("_r.text").as("text"))
      .localCheckpoint() // EAGER (scanned by the star join and the banding
    // chain): corpus-sized (doc_id, text) — see the r18 fat-frame rule at
    // lshPairsOf's sig checkpoint
    val stars = keyed.select(col("_h"), col("_l"), col("doc_id").as("id_b"))
      .join(reps.select(col("_h"), col("_l"), col("doc_id").as("id_a")),
        Seq("_h", "_l"))
      .where(col("id_a") =!= col("id_b"))
      .select("id_a", "id_b")
    (reps.select("doc_id", "text"), stars)
  }

  /** q64's verified SimHash hamming pairs, frame-parametric (the
    * simhash twin of [[lshPairsOf]]) so the magnitude probe and
    * [[simhashEdgesOf]] drive the exact operator the q64 gate pins.
    * Signatures ride the band rows (12 B/row) so the hamming verify runs
    * inside the bucket join's output — no rejoin shuffles. */
  private[graft] def simhashPairsOf(d: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val bits = simhashBits(d.sparkSession)
    val sig = simhashSigsOf(d, bits).localCheckpoint() // EAGER: the band
    // self-join scans it twice in its first job
    val bands = simhashBandRowsOf(sig, bits)
    val ham = graft.functions.TextFunctions
      .hammingDistance(col("a.sh"), col("b.sh"))
    // Min-band emission instead of DISTINCT (r19, VERDICT r18 #5 /
    // builder's lever #3): a pair within the hamming radius collides in
    // 1..SimBands bands and the bucket join emits it once PER colliding
    // band; the old `.distinct()` folded those copies with a full
    // aggregation — an Exchange + 2×HashAggregate over every verified
    // pair. Since both signatures ride the join output, "is this the
    // LOWEST colliding band?" is a per-row predicate on sh_a XOR sh_b:
    // keep the row iff every band BELOW the joining one differs. Each
    // qualifying pair then surfaces exactly once (hamming ≤ maxHamming
    // < SimBands guarantees ≥ 1 colliding band by pigeonhole), and
    // (id_a, id_b, hamming) is a function of the pair alone — the row SET
    // is identical to the DISTINCT's (oracle hash unchanged, spec-pinned
    // against the distinct formulation), with zero shuffle.
    val bandBits = bits / SimBands
    val bandMask = (1L << bandBits) - 1
    val x = col("a.sh").bitwiseXOR(col("b.sh"))
    val lowestCollidingBand = (0 until SimBands - 1).map { bp =>
      when(col("a.band") > bp,
        shiftright(x, bp * bandBits).bitwiseAND(lit(bandMask)) =!= 0)
        .otherwise(lit(true))
    }.reduce(_ && _)
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig")
          && col("a.doc_id") < col("b.doc_id"))
      .where(ham <= simMaxHamming(d.sparkSession) && lowestCollidingBand)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        ham.as("hamming"))
  }

  /** SimHash signatures `(doc_id, sh)` at the given width — the
    * persisted shape of [[TextScreen]]'s simhash tier (one long per doc)
    * and the first stage of [[simhashPairsOf]]. */
  private[graft] def simhashSigsOf(d: org.apache.spark.sql.DataFrame,
      bits: Int): org.apache.spark.sql.DataFrame =
    d.select(col("doc_id"), simhash(tokens(col("text")), bits).as("sh"))

  /** Pigeonhole band rows `(doc_id, sh, band, bsig)` over a simhash
    * signatures frame: [[SimBands]] disjoint `bits/SimBands`-wide pieces,
    * the signature riding along so a hamming verify runs inside the
    * bucket join's output with no rejoin. */
  private[graft] def simhashBandRowsOf(sig: org.apache.spark.sql.DataFrame,
      bits: Int): org.apache.spark.sql.DataFrame = {
    val bandBits = bits / SimBands
    val bandCol = explode(array((0 until SimBands).map { b =>
      struct(lit(b.toLong).as("band"),
        shiftright(col("sh"), b * bandBits)
          .bitwiseAND(lit((1L << bandBits) - 1)).as("bsig"))
    }: _*))
    sig.select(col("doc_id"), col("sh"), bandCol.as("bb"))
      .select(col("doc_id"), col("sh"),
        col("bb.band").as("band"), col("bb.bsig").as("bsig"))
  }

  /** Connected components over an undirected pair graph by min-label
    * propagation to a fixpoint (shared by q63 and q72): each iteration is
    * one join + grouped min, lineage truncated per step; iteration count is
    * the component diameter (tiny for near-dup clusters), and at 100 TB
    * this is the standard large/small-star CC schedule on a pair graph
    * orders of magnitude smaller than the corpus. Returns `(id, comp)` with
    * `comp` = the component's minimum member id. */
  private[graft] def minLabelComponents(edges: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // CONTRACT, then propagate. The duplicate graphs this operator feeds
    // are near-cliques (a near-dup cluster pairs all-to-all: the full v4
    // sweep emits 523M pair rows over 2M nodes), and running label
    // propagation directly on the raw edge list is a measured
    // scale-killer at that volume — the r13 curatepipe probe ENOSPC'd on
    // the 1-billion-row undirected checkpoint plus a same-sized shuffle
    // PER iteration. One contraction round fixes the shape exactly:
    //   l0(v) = min(v, neighbors(v))
    // maps every clique member straight to the clique minimum (each
    // member is adjacent to it), so the quotient graph — the l0 images
    // of the original edges, self-loops dropped — is EMPTY for cliques
    // and tiny for anything near one; the O(|E|) work happens once, and
    // the iterative propagation runs on the contracted remainder.
    // Exactness: l0 maps every node to a member of its own component
    // (itself or a neighbor), and edge contraction within components
    // preserves components, so comp(v) = quotientComp(l0(v)); the
    // component minimum m survives as a quotient node (its neighbors are
    // all larger, so l0(m) = m). Same contract as before — one
    // `(id, comp)` row per node, comp = the component's minimum id —
    // gated by the recursive-reachability oracles (q63/q72/q95/q103) and
    // the randomized brute-force spec.
    val und = edges.unionAll(
      edges.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
    // one skinny row per node, via an AGGREGATION (map-side combine
    // collapses the fat edge list to ≤ nodes × partitions rows before it
    // shuffles — the cheap way through |E|, unlike a join, which ships
    // every edge row)
    val l0 = und.groupBy(col("id_a").as("id"))
      .agg(min(col("id_b")).as("_m"))
      .select(col("id"), least(col("id"), col("_m")).as("l0"))
      .localCheckpoint()
    // map the ORIGINAL edges (half of und) onto their l0 images; when the
    // node map is driver-known small, broadcast it so the edge list is
    // scanned map-side and never shuffle-written — the distinct() after
    // the mapping also combines map-side, so a clique's edges vanish
    // before they reach the wire
    val nNodes = l0.count()
    val maxBcast = ccBroadcastRowCap(edges.sparkSession)
    def side(idCol: String, out: String) = {
      val m = l0.select(col("id").as(idCol), col("l0").as(out))
      if (nNodes <= maxBcast) broadcast(m) else m
    }
    val contracted = edges.select("id_a", "id_b")
      .join(side("id_a", "_la"), "id_a")
      .join(side("id_b", "_lb"), "id_b")
      .where(col("_la") =!= col("_lb"))
      .select(least(col("_la"), col("_lb")).as("id_a"),
        greatest(col("_la"), col("_lb")).as("id_b"))
      .distinct()
    val quotient = propagateMinLabels(contracted)
    // nodes whose l0 image has no contracted edge keep comp = l0
    l0.join(quotient.withColumnRenamed("id", "l0"), Seq("l0"), "left")
      .select(col("id"), coalesce(col("comp"), col("l0")).as("comp"))
  }

  /** Conf: max ESTIMATED broadcast size in BYTES for shipping a skinny
    * id-keyed map (the CC node→l0 map, an anti-join id list) into a
    * fat-side scan as a forced `broadcast()` hint. The estimate charges
    * [[CcBroadcastBytesPerRow]] per row — the payload is 16 B but a
    * BroadcastHashJoin materializes a `HashedRelation` (key index +
    * row pages + open-addressing slack) costing several × payload, so
    * gating on raw row count at 16 B/row under-prices the executor-side
    * footprint (ADVICE r13). Default 256 MB of estimated relation → a
    * 4M-row cap.
    *
    * NOTE: the hint deliberately BYPASSES
    * `spark.sql.autoBroadcastJoinThreshold` — including an explicit -1 —
    * because Catalyst's plan stats mis-size exactly the checkpointed
    * skinny frames this gate covers (the r13 curatepipe sort-merge flip
    * came from that). On a memory-constrained driver/executor, set THIS
    * conf to 0 to disable the forced hint entirely; above the cap the
    * mapping falls back to shuffle joins, the multi-hundred-TB regime
    * where executors outnumber the savings. */
  private[graft] val CcBroadcastMaxBytesConf = "spark.graft.cc.broadcastMaxBytes"
  private[graft] val DefaultCcBroadcastMaxBytes: Long = 256L << 20

  /** Estimated HashedRelation cost per (long, long) row — 16 B payload
    * plus hash-table overhead measured in whole multiples of it. */
  private[graft] val CcBroadcastBytesPerRow = 64L

  /** Estimated HashedRelation cost per single-column 8-byte-id row (the
    * anti-join / candidate-prune id lists): half the (long, long) map
    * row's payload, same whole-multiple overhead model — pricing these at
    * 64 B/row halved the usable broadcast budget for no reason (ADVICE
    * r14). */
  private[graft] val CcBroadcastBytesPerIdRow = 32L

  /** Row cap implied by [[CcBroadcastMaxBytesConf]] (0 disables) at the
    * given estimated relation cost per row. */
  private[graft] def ccBroadcastRowCap(
      spark: org.apache.spark.sql.SparkSession,
      bytesPerRow: Long = CcBroadcastBytesPerRow): Long =
    spark.conf.get(CcBroadcastMaxBytesConf,
      DefaultCcBroadcastMaxBytes.toString).toLong / bytesPerRow

  /** Anti-join an id set out of a FAT corpus without shuffling the corpus:
    * Catalyst only broadcasts under its 10 MB plan-stats threshold, so a
    * loser set a few MB past it silently flips the anti-join to a
    * sort-merge that shuffle-writes every fat corpus row — at the
    * 2M × 4096-d release shape that is the whole 32 GB table for a 16 MB
    * id list (the r13 curatepipe probe measured exactly that flip:
    * ~2M loser ids → ENOSPC in the survivors stage). The id count here is
    * driver-known (one count of a checkpointed single-column frame), so
    * the broadcast decision is exact, reusing the CC node-map bound
    * ([[CcBroadcastMaxBytesConf]] — same 8-byte-id shape). Above the
    * bound the plain join runs (the cluster regime where the corpus is
    * partitioned wide enough to absorb the shuffle).
    *
    * `ids` must be a single-column frame, or carry `idCol` by name — a
    * multi-column frame whose first column merely happens to sit leftmost
    * would otherwise anti-join on the wrong values silently (ADVICE r13). */
  private[graft] def antiJoinIds(corpus: org.apache.spark.sql.DataFrame,
      idCol: String, ids: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val srcCol =
      if (ids.columns.contains(idCol)) idCol
      else {
        require(ids.columns.length == 1,
          s"antiJoinIds: ids frame must be single-column or contain '$idCol' " +
            s"by name, got (${ids.columns.mkString(", ")})")
        ids.columns.head
      }
    val l = ids.select(col(srcCol).as(idCol)).localCheckpoint()
    val side = if (l.count() <=
        ccBroadcastRowCap(corpus.sparkSession, CcBroadcastBytesPerIdRow))
      broadcast(l) else l
    corpus.join(side, Seq(idCol), "left_anti")
  }

  /** Iterative min-label propagation over an undirected-izable edge list —
    * [[minLabelComponents]]' post-contraction engine. Input edges must be
    * the contracted remainder (small); the loop checkpoints one skinny
    * label row per remaining node per iteration. */
  private def propagateMinLabels(edges: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val und = edges.unionAll(
      edges.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .localCheckpoint()
    var labels = und.select(col("id_a").as("id")).distinct()
      .select(col("id"), col("id").as("comp")).localCheckpoint()
    // a fully-contracted graph (pure cliques — the common duplicate
    // shape) leaves no quotient edges at all; the sum-convergence agg
    // below would see a null over zero rows
    if (labels.isEmpty) return labels
    var prevSum = -1L
    var iter = 0
    val MaxIters = 32
    var sum = labels.agg(org.apache.spark.sql.functions.sum("comp"))
      .head().getLong(0)
    while (sum != prevSum && iter < MaxIters) {
      val nbrMin = und.join(labels, und("id_b") === labels("id"))
        .groupBy(und("id_a")).agg(min("comp").as("nbr_comp"))
      val next = labels.join(nbrMin, labels("id") === nbrMin("id_a"), "left")
        .select(labels("id"),
          least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("comp"))
        .localCheckpoint()
      prevSum = sum
      labels = next
      sum = labels.agg(org.apache.spark.sql.functions.sum("comp"))
        .head().getLong(0)
      iter += 1
    }
    // the cap is a runaway guard, not an expected exit: iteration count
    // equals component diameter (single digits for near-dup clusters) —
    // a silent truncation here would emit WRONG components (VERDICT r4
    // hygiene), so converge-or-fail, never converge-or-guess
    if (sum != prevSum)
      sys.error(s"label propagation did not converge within $MaxIters " +
        "iterations — component diameter exceeds the guard, raise MaxIters")
    labels
  }

  /** [[lshCtePrefix]] for the screened-ingest oracles ([[TextScreen]]) —
    * the same `sig` + `pairs` CTE chain at the default operating point. */
  private[graft] def lshCtePrefixForOracle: String = lshCtePrefix

  /** DuckDB twin of [[lshPairs]]: CTE chain ending in
    * `pairs(id_a, id_b, jaccard)`. */
  private def lshCtePrefix: String = {
    val sigList = (0 until NumHashes).map(minhashExprSql).mkString(", ")
    val bandSelects = (0 until Bands).map { b =>
      val parts = (1 to RowsPerBand)
        .map(r => s"sig[${b * RowsPerBand + r}]::VARCHAR").mkString(" || ':' || ")
      s"SELECT doc_id, ${b}::BIGINT AS band, $parts AS bsig FROM sig"
    }.mkString(" UNION ALL ")
    s"""$toksCte, $shCte, $hshCte,
       |sig AS (SELECT doc_id, s, [$sigList] AS sig FROM hsh),
       |bands AS ($bandSelects),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |         FROM bands a JOIN bands b
       |           ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
       |pairs AS (
       |  SELECT id_a, id_b,
       |    len(list_intersect(x.s, y.s))::DOUBLE / len(list_distinct(x.s || y.s)) AS jaccard
       |  FROM cand JOIN sh x ON x.doc_id = id_a JOIN sh y ON y.doc_id = id_b
       |  WHERE len(list_intersect(x.s, y.s))::DOUBLE / len(list_distinct(x.s || y.s)) >= $JaccardThreshold)""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    // token counting (whitespace tokenizer) + chars-per-token
    QueryDef(
      "q20_token_stats",
      (s, d) => {
        val toks = tokens(col("text"))
        docs(s, d)
          .select(col("doc_id"), size(toks).cast("long").as("n_tokens"), col("n_chars"))
          .withColumn("chars_per_token",
            round(col("n_chars").cast("double") / col("n_tokens"), 4))
          .orderBy("doc_id")
      },
      Some(s"""WITH $toksCte
              |SELECT doc_id, len(t)::BIGINT AS n_tokens, n_chars,
              |       round(n_chars::DOUBLE / len(t), 4) AS chars_per_token
              |FROM toks ORDER BY doc_id""".stripMargin),
      bench = true),

    // language-ID heuristic: stopword-marker ratio over distinct tokens
    QueryDef(
      "q21_lang_id",
      (s, d) => {
        val toks = tokens(col("text"))
        docs(s, d)
          .select(col("doc_id"), col("lang"),
            round(markerRatio(toks, stopWords), 6).as("stop_ratio"))
          .withColumn("guessed_lang",
            when(col("stop_ratio") >= 0.03, lit("en")).otherwise(lit("other")))
          .orderBy("doc_id")
      },
      Some(s"""WITH $toksCte
              |SELECT doc_id, lang, stop_ratio,
              |  CASE WHEN stop_ratio >= 0.03 THEN 'en' ELSE 'other' END AS guessed_lang
              |FROM (SELECT doc_id, lang,
              |  round(CASE WHEN len(t) = 0 THEN 0.0 ELSE
              |    len(list_intersect(list_distinct(t), [${stopWords.map("'" + _ + "'").mkString(",")}]))::DOUBLE
              |      / len(list_distinct(t)) END, 6) AS stop_ratio FROM toks)
              |ORDER BY doc_id""".stripMargin)),

    // quality score: length band + mean-token-length band + alpha ratio
    QueryDef(
      "q22_quality_score",
      (s, d) =>
        docs(s, d)
          .select(col("doc_id"), qualityScoreNative(col("text")).as("quality"))
          .orderBy("doc_id"),
      Some(s"""WITH $toksCte
              |SELECT doc_id, round((
              |    CASE WHEN len(t) BETWEEN 5 AND 1000 THEN 1.0 ELSE 0.0 END
              |  + CASE WHEN (CASE WHEN len(t) = 0 THEN 0.0
              |      ELSE list_aggregate(list_transform(t, x -> len(x)), 'sum')::DOUBLE / len(t) END)
              |      BETWEEN 2 AND 12 THEN 1.0 ELSE 0.0 END
              |  + CASE WHEN len(text) = 0 THEN 0.0
              |      ELSE len(regexp_replace(text, '[^a-zA-Z ]', '', 'g'))::DOUBLE / len(text) END
              |  ) / 3.0, 6) AS quality
              |FROM toks ORDER BY doc_id""".stripMargin),
      bench = true),

    // bottom-k document fingerprint (rolling-hash/winnowing-style sketch)
    QueryDef(
      "q23_fingerprint",
      (s, d) => {
        val sh = array_distinct(shingles(col("text"), 3))
        docs(s, d)
          .select(col("doc_id"),
            concat_ws(",", bottomKFingerprint(sh, 5)).as("fingerprint"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $toksCte, $shCte
              |SELECT doc_id, array_to_string(
              |  (list_sort(list_distinct(list_transform(s, x -> ${hx("x")}))))[1:5], ',') AS fingerprint
              |FROM sh ORDER BY doc_id""".stripMargin)),

    // MinHash signatures: 16 affine permutations over md5-hashed 3-shingles
    // (one md5 per shingle; see TextFunctions.minhashFromHashes)
    QueryDef(
      "q24_minhash_sig",
      (s, d) =>
        docs(s, d)
          .select(col("doc_id"), distinctShingleHashes(col("text"), 3).as("hsh"))
          .select(col("doc_id"),
            concat_ws(",", minhashFromHashes(col("hsh"),
              lshParams(s).numHashes)).as("sig"))
          .orderBy("doc_id"),
      Some(s"""WITH $toksCte, $shCte, $hshCte
              |SELECT doc_id, array_to_string([${(0 until NumHashes).map(minhashExprSql).mkString(", ")}], ',') AS sig
              |FROM hsh ORDER BY doc_id""".stripMargin),
      bench = true),

    // MinHash-LSH near-duplicate pairs: band-bucket join for candidates,
    // exact Jaccard verification — the scale path for near-dedup (no O(n²))
    QueryDef(
      "q25_minhash_lsh_pairs",
      (s, d) => lshPairs(s, d)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b"),
      Some(s"""WITH $lshCtePrefix
           |SELECT id_a, id_b, round(jaccard, 6) AS jaccard FROM pairs
           |ORDER BY id_a, id_b""".stripMargin),
      bench = true),

    // SimHash (md5 per token, majority vote per bit; width is the
    // SimhashBitsConf session conf — default 32, the oracle's width)
    QueryDef(
      "q26_simhash",
      (s, d) => {
        requireOracleSimhashWidth(s)
        docs(s, d)
          .select(col("doc_id"),
            simhash(tokens(col("text")), simhashBits(s)).as("simhash"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $simhashCtes
              |SELECT doc_id, simhash FROM shsig ORDER BY doc_id""".stripMargin)),

    // SimHash NEAR-DUP PAIRING — the consumer of q26's signatures (VERDICT
    // r4 "What's missing #3"): chunk the simhash into 4 disjoint bands,
    // bucket-join candidates on (band, band-bits), verify
    // hammingDistance ≤ 3. Pigeonhole guarantee: ≤ 3 differing bits touch
    // ≤ 3 bands, so every pair inside the verified radius collides on at
    // least one band — candidate recall is exact, and the bucket equi-join
    // keeps the pair space far below O(n²) at any corpus size (the q25/q33
    // banding pattern over hamming space instead of Jaccard/cosine).
    // Width rides SimhashBitsConf (default 32 = the oracle's width; 60 is
    // the corpus-magnitude point — see the conf's Scaladoc and PROBES r15).
    QueryDef(
      "q64_simhash_hamming_pairs",
      (s, d) => {
        requireOracleSimhashWidth(s)
        simhashPairsOf(docs(s, d)).orderBy("id_a", "id_b")
      },
      Some(s"""WITH $simhashCtes,
              |$simhashPairCtes
              |SELECT id_a, id_b, hamming FROM spairs
              |ORDER BY id_a, id_b""".stripMargin),
      bench = true),

    // SimHash near-dup COMPONENTS — q63's clustering over the hamming
    // pair graph, through the exact-content-collapsed edge generator
    // ([[simhashEdgesOf]]): a boilerplate K-clique costs K−1 star edges
    // from one map-side-combinable aggregation instead of SimBands·K²/2
    // bucket-join rows (the r14 dedupEdgesOf discipline applied to the
    // simhash chain — the r15 magnitude probe measured the raw listing's
    // clique quadratics at 4M docs). Components are spec-pinned equal to
    // the raw chain's; oracle = recursive reachability over q64's pairs.
    QueryDef(
      "q107_simhash_components",
      (s, d) => {
        requireOracleSimhashWidth(s)
        val edges = simhashEdgesOf(docs(s, d)).localCheckpoint()
        minLabelComponents(edges)
          .select(col("id").as("doc_id"), col("comp").as("component"),
            (col("id") === col("comp")).as("is_canonical"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $simhashCtes,
              |$simhashPairCtes,
              |und AS (SELECT id_a AS a, id_b AS b FROM spairs
              |        UNION ALL SELECT id_b, id_a FROM spairs),
              |reach(id, r) AS (
              |  SELECT DISTINCT a, a FROM und
              |  UNION
              |  SELECT u.b, reach.r FROM reach JOIN und u ON u.a = reach.id)
              |SELECT id AS doc_id, min(r)::BIGINT AS component,
              |       (id = min(r)) AS is_canonical
              |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin)),

    // exact-duplicate dedup by content hash; the test corpus has no
    // byte-identical docs, so key on the first-5-token prefix hash too —
    // same hash-groupBy shape, non-trivial groups
    QueryDef(
      "q27_exact_dup_groups",
      (s, d) => {
        val prefix = concat_ws(" ", slice(tokens(col("text")), 1, 5))
        docs(s, d)
          .groupBy(md5(prefix).as("prefix_hash"))
          .agg(count(lit(1)).as("cnt"), min("doc_id").as("canonical_id"))
          .where(col("cnt") >= 2)
          .orderBy("prefix_hash")
      },
      Some(s"""WITH $toksCte
              |SELECT md5(array_to_string(t[1:5], ' ')) AS prefix_hash,
              |       count(*) AS cnt, min(doc_id) AS canonical_id
              |FROM toks GROUP BY 1 HAVING count(*) >= 2 ORDER BY prefix_hash""".stripMargin)),

    // BPE-ish regex tokenizer stats: split into letter-runs / digit-runs /
    // single punctuation (the pre-tokenization rule BPE vocabularies use),
    // count pieces + distinct pieces per document
    QueryDef(
      "q29_regex_tokens",
      (s, d) => {
        val pieces = expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0)")
        docs(s, d)
          .select(col("doc_id"), pieces.as("p"))
          .select(col("doc_id"), size(col("p")).cast("long").as("n_pieces"),
            size(array_distinct(col("p"))).cast("long").as("n_unique"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))::BIGINT AS n_pieces,
             |  len(list_distinct(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')))::BIGINT AS n_unique
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // n-gram Jaccard similarity of adjacent-id doc pairs (windowed exact
    // dedup check — bounded pair set, no LSH)
    QueryDef(
      "q28_ngram_jaccard_adjacent",
      (s, d) => {
        val sh = docs(s, d).select(col("doc_id"),
          array_distinct(shingles(col("text"), 2)).as("sh"))
        val a = sh.select(col("doc_id").as("id_a"), col("sh").as("sa"))
        val b = sh.select((col("doc_id") - 1).as("id_a"), col("doc_id").as("id_b"),
          col("sh").as("sb"))
        a.join(b, "id_a")
          .select(col("id_a"), col("id_b"),
            round(graft.functions.TextFunctions.jaccard(col("sa"), col("sb")), 6).as("jaccard"))
          .orderBy("id_a")
      },
      Some(s"""WITH $toksCte,
              |sh2 AS (SELECT doc_id, list_distinct(CASE WHEN len(t) < 2
              |  THEN [array_to_string(t,' ')]
              |  ELSE list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) END) AS s
              |  FROM toks)
              |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              |  round(len(list_intersect(a.s, b.s))::DOUBLE / len(list_distinct(a.s || b.s)), 6) AS jaccard
              |FROM sh2 a JOIN sh2 b ON b.doc_id = a.doc_id + 1
              |ORDER BY id_a""".stripMargin)),

    // Repetition detection — duplicate-3-gram ratio, the classic
    // training-data quality signal (Gopher/C4-style repetition filters):
    // a doc whose n-grams repeat heavily is boilerplate or degenerate.
    // Pure per-doc projection, shuffle-free at any scale.
    QueryDef(
      "q62_repetition",
      (s, d) =>
        docs(s, d)
          .select(col("doc_id"), shingles(col("text"), 3).as("sh"))
          .select(col("doc_id"),
            size(col("sh")).cast("long").as("n_ngrams"),
            size(array_distinct(col("sh"))).cast("long").as("n_distinct"))
          .withColumn("dup_ratio",
            round(lit(1.0) - col("n_distinct").cast("double") / col("n_ngrams"), 6))
          .orderBy("doc_id"),
      Some(s"""WITH $toksCte,
              |shall AS (SELECT doc_id, CASE WHEN len(t) < 3
              |  THEN [array_to_string(t, ' ')]
              |  ELSE list_transform(range(1, len(t)-1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END AS s
              |  FROM toks)
              |SELECT doc_id, len(s)::BIGINT AS n_ngrams,
              |       len(list_distinct(s))::BIGINT AS n_distinct,
              |       round(1.0 - len(list_distinct(s))::DOUBLE / len(s), 6) AS dup_ratio
              |FROM shall ORDER BY doc_id""".stripMargin)),

    // Corpus-level duplicate-LINE removal (the C4 cleanup move: a sentence
    // that recurs across the corpus is boilerplate; keep its FIRST
    // occurrence by (doc_id, pos), drop the rest, reassemble each doc).
    // One shuffle keyed by line hash — the canonical corpus-dedup shape,
    // partition-local at any executor count; reassembly is a per-doc
    // ordered fold. Output carries sha256 of the reassembled text so the
    // oracle compares content without megabytes of strings.
    QueryDef(
      "q67_line_dedup",
      (s, d) => {
        val lines = docs(s, d)
          .select(col("doc_id"), posexplode(split(col("text"), "\\. ")))
          .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("line"))
          .where(col("line") =!= "")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(md5(col("line"))).orderBy("doc_id", "pos")
        val kept = lines
          .withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_kept"),
            sha2(array_join(
              transform(sort_array(collect_list(struct(col("pos"), col("line")))),
                x => x.getField("line")), ". "), 256).as("kept_sha"))
        lines.groupBy("doc_id").agg(count(lit(1)).as("n_lines"))
          .join(kept, Seq("doc_id"), "left_outer")
          .select(col("doc_id"), col("n_lines"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"),
            coalesce(col("kept_sha"), sha2(lit(""), 256)).as("kept_sha"))
          .orderBy("doc_id")
      },
      Some("""WITH ls AS (SELECT doc_id, string_split(text, '. ') AS l FROM documents),
             |lines AS (
             |  SELECT doc_id, t.i AS pos, l[t.i] AS line
             |  FROM ls, LATERAL (SELECT unnest(generate_series(1, len(l))) AS i) t
             |  WHERE l[t.i] <> ''),
             |kept AS (
             |  SELECT doc_id, pos, line,
             |         row_number() OVER (PARTITION BY md5(line) ORDER BY doc_id, pos) AS rn
             |  FROM lines QUALIFY rn = 1),
             |agg AS (
             |  SELECT doc_id, count(*) AS n_kept,
             |         sha256(string_agg(line, '. ' ORDER BY pos)) AS kept_sha
             |  FROM kept GROUP BY doc_id),
             |tot AS (SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY doc_id)
             |SELECT t.doc_id, t.n_lines,
             |       coalesce(a.n_kept, 0) AS n_kept,
             |       coalesce(a.kept_sha, sha256('')) AS kept_sha
             |FROM tot t LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin)),

    // Near-dup CLUSTERING: connected components over the verified LSH pair
    // graph → one component id per doc, canonical = min doc_id (what a real
    // dedup pipeline does downstream of pair generation: keep one doc per
    // component). Min-label propagation to a fixpoint — each iteration is
    // one join + grouped min, lineage truncated per step; iteration count
    // is the component diameter (tiny for near-dup clusters), and at 100 TB
    // this is the standard large/small-star CC schedule on a pair graph
    // orders of magnitude smaller than the corpus. Oracle: recursive CTE
    // reachability over the same pairs.
    QueryDef(
      "q63_dedup_components",
      (s, d) => {
        // edges via the exact-collapsed generator (r14): components are
        // spec-pinned EQUAL to the raw lshPairs chain's, and boilerplate
        // cliques cost K−1 star edges instead of K²/2 verified pairs
        val edges = dedupEdgesOf(docs(s, d)).localCheckpoint()
        minLabelComponents(edges)
          .select(col("id").as("doc_id"), col("comp").as("component"),
            (col("id") === col("comp")).as("is_canonical"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $lshCtePrefix,
              |und AS (SELECT id_a AS a, id_b AS b FROM pairs
              |        UNION ALL SELECT id_b, id_a FROM pairs),
              |reach(id, r) AS (
              |  SELECT DISTINCT a, a FROM und
              |  UNION
              |  SELECT u.b, reach.r FROM reach JOIN und u ON u.a = reach.id)
              |SELECT id AS doc_id, min(r)::BIGINT AS component,
              |       (id = min(r)) AS is_canonical
              |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin)),

    // Corpus dedup MATERIALIZATION — the operation a training-data pipeline
    // actually runs downstream of pair generation + clustering: keep every
    // document that is either untouched by the near-dup graph or the
    // canonical (minimum-id) member of its component, and emit the cleaned
    // corpus. Composition of the pieces above (dedupEdgesOf →
    // minLabelComponents → left_anti), one extra anti-join over q63 — at
    // 100 TB the loser set
    // is orders of magnitude smaller than the corpus, so the anti-join
    // broadcasts. Content is gated by sha256 so the oracle checks the
    // surviving TEXT, not just ids.
    QueryDef(
      "q72_dedup_corpus",
      (s, d) => {
        val edges = dedupEdgesOf(docs(s, d)).localCheckpoint()
        val losers = minLabelComponents(edges)
          .where(col("id") =!= col("comp"))
          .select(col("id").as("doc_id"))
        docs(s, d).join(losers, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("n_chars"),
            sha2(col("text"), 256).as("text_sha"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $lshCtePrefix,
              |und AS (SELECT id_a AS a, id_b AS b FROM pairs
              |        UNION ALL SELECT id_b, id_a FROM pairs),
              |reach(id, r) AS (
              |  SELECT DISTINCT a, a FROM und
              |  UNION
              |  SELECT u.b, reach.r FROM reach JOIN und u ON u.a = reach.id),
              |losers AS (SELECT id FROM reach GROUP BY id HAVING id <> min(r))
              |SELECT d.doc_id, d.n_chars, sha256(d.text) AS text_sha
              |FROM documents d
              |WHERE d.doc_id NOT IN (SELECT id FROM losers)
              |ORDER BY d.doc_id""".stripMargin)),

    // Deterministic STRATIFIED SAMPLING — the corpus-curation step that
    // balances a language (or domain) mix: keep the first `StratQuota`
    // documents per language in md5-hash order. Hash order makes the sample
    // reproducible across runs/engines (no RNG state) and uniform within
    // each stratum.
    //
    // Scale (100 TB): a bare `row_number() OVER (PARTITION BY lang)` puts
    // an entire stratum — possibly most of the corpus — through ONE task.
    // Instead the per-stratum counts (one row per language, driver-tiny)
    // derive a hash cutoff at `oversample·quota/count`, the corpus is
    // pre-filtered to ~oversample·quota survivors per stratum with a
    // broadcast cutoff join (embarrassingly parallel scan), and only the
    // survivors are ranked. The cutoff is verified — any stratum left with
    // fewer than min(quota, count) survivors re-runs with the cutoff
    // widened 4× (reaching take-all in the limit) — so the result is
    // bit-identical to the unbounded window at any skew, while the window
    // input stays O(strata·quota), independent of corpus size.
    QueryDef(
      "q76_stratified_sample",
      (s, d) => {
        import s.implicits._
        val base = docs(s, d).select(col("doc_id"), col("lang"),
          md5Long(col("doc_id").cast("string")).as("hv"))
          .localCheckpoint() // hash once, scanned by count + filter passes
        val counts = base.groupBy("lang").agg(count(lit(1)).as("cnt"))
          .as[(String, Long)].collect().toMap
        val MaxHv = 1L << 60 // md5Long range: 15 hex chars = 60 bits
        def survivors(os: Long): org.apache.spark.sql.DataFrame = {
          val cut = counts.toSeq.map { case (l, c) =>
            (l, if (os * StratQuota >= c) Long.MaxValue
                else MaxHv / c * (os * StratQuota))
          }
          base.join(broadcast(cut.toDF("lang", "cut")), "lang")
            .where(col("hv") <= col("cut"))
        }
        val pre = Iterator.iterate(4L)(_ * 4).map(survivors)
          .find { p =>
            val got = p.groupBy("lang").agg(count(lit(1)).as("n"))
              .as[(String, Long)].collect().toMap
            counts.forall { case (l, c) =>
              got.getOrElse(l, 0L) >= math.min(StratQuota.toLong, c) }
          }.get
        val w = Window.partitionBy("lang").orderBy(col("hv"), col("doc_id"))
        pre.withColumn("rk", row_number().over(w).cast("long"))
          .where(col("rk") <= StratQuota)
          .select(col("lang"), col("doc_id"), col("rk"))
          .orderBy("lang", "doc_id")
      },
      Some(s"""WITH h AS (SELECT doc_id, lang,
              |  ${hx("doc_id::VARCHAR")} AS hv FROM documents),
              |r AS (SELECT lang, doc_id,
              |  row_number() OVER (PARTITION BY lang ORDER BY hv, doc_id) AS rk FROM h)
              |SELECT lang, doc_id, rk::BIGINT AS rk FROM r
              |WHERE rk <= $StratQuota ORDER BY lang, doc_id""".stripMargin)),

    // Token-budget SHARD PACKING — the preprocessing step that chunks a
    // curated corpus into fixed-token-budget shards in a stable document
    // order: shard = floor(tokens-before-this-doc / budget). Every training
    // pipeline runs a form of this before sequence packing. Physical design
    // in [[shardPack]].
    QueryDef(
      "q77_shard_pack",
      (s, d) => {
        val base = t(s, d, "documents")
          .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tok"))
        shardPack(s, base)
          .select(col("doc_id"), col("n_tok"), col("shard"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $toksCte,
              |c AS (SELECT doc_id, len(t)::BIGINT AS n_tok,
              |        sum(len(t)) OVER (ORDER BY doc_id
              |          ROWS UNBOUNDED PRECEDING) AS cum FROM toks)
              |SELECT doc_id, n_tok,
              |       ((cum - n_tok) // $ShardBudget)::BIGINT AS shard
              |FROM c ORDER BY doc_id""".stripMargin)),

    // QUALITY-FILTER MATERIALIZATION — the C4/Gopher-style cleanup end
    // product: compose the per-document quality signals (q22's banded score,
    // q62's duplicate-n-gram ratio, a token floor) into one keep-set and
    // emit the cleaned corpus, content-gated by sha256 like q72. All inputs
    // are shuffle-free projections, so the whole pass is a single
    // embarrassingly-parallel scan at any corpus size — filters compare the
    // same round-6 values on both engines.
    QueryDef(
      "q78_quality_corpus",
      (s, d) =>
        qualityKeep(s, d)
          .select(col("doc_id"), col("quality"), col("dup_ratio"),
            sha2(col("text"), 256).as("text_sha"))
          .orderBy("doc_id"),
      Some(s"""WITH $qualityCtes
              |SELECT doc_id, quality, dup_ratio, sha256(text) AS text_sha
              |FROM keep ORDER BY doc_id""".stripMargin)),

    // The CURATION PIPELINE end to end — quality filter (q78's keep-set)
    // feeding token-budget shard packing (q77's distributed prefix sum) as
    // ONE declarative plan: scan -> shuffle-free signal projection + filter
    // -> range partition -> per-partition running sums. This is the whole
    // pre-training data layout pass a corpus pipeline runs nightly, and the
    // composition stays exactly as scalable as its pieces (the filter
    // prunes before the only shuffle).
    QueryDef(
      "q79_curation_pipeline",
      (s, d) =>
        shardPack(s, qualityKeep(s, d).select("doc_id", "n_tok"))
          .select(col("doc_id"), col("n_tok"), col("shard"))
          .orderBy("doc_id"),
      Some(s"""WITH $qualityCtes,
              |c AS (SELECT doc_id, n_tok,
              |        sum(n_tok) OVER (ORDER BY doc_id
              |          ROWS UNBOUNDED PRECEDING) AS cum FROM keep)
              |SELECT doc_id, n_tok,
              |       ((cum - n_tok) // $ShardBudget)::BIGINT AS shard
              |FROM c ORDER BY doc_id""".stripMargin),
      bench = true),

    // EVAL-SET DECONTAMINATION — the GPT-3-style n-gram overlap check: any
    // training document sharing an 8-token gram with a held-out eval
    // document is contamination (Brown et al. 2020 §C used 13-grams; 8
    // keeps signal at the synthetic corpus's doc lengths). The eval split
    // here is a deterministic md5 slice of the corpus (~20 %) so both
    // engines derive it identically.
    //
    // Scale (100 TB): a real eval suite is megabytes against terabytes —
    // its distinct gram-hash set is broadcast, so the training side is ONE
    // shuffle-free scan plus a broadcast semi-join; the only shuffle is the
    // map-side-combinable per-doc count. Gram hashes (60-bit md5) ride the
    // join instead of the gram strings.
    QueryDef(
      "q80_decontaminate",
      (s, d) => {
        val grams = docs(s, d)
          .select(col("doc_id"),
            explode(array_distinct(shingles(col("text"), GramN))).as("g"))
          .select(col("doc_id"), md5Long(col("g")).as("gh"),
            (md5Long(col("doc_id").cast("string")) % EvalMod === 0).as("is_eval"))
        val evalGrams = grams.where(col("is_eval")).select("gh").distinct()
        grams.where(!col("is_eval"))
          .join(broadcast(evalGrams), "gh")
          .groupBy("doc_id")
          .agg(count(lit(1)).cast("long").as("n_shared"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $toksCte,
              |$distinctGramCte,
              |grams AS (SELECT doc_id, ${hx("g")} AS gh,
              |  ${hx("doc_id::VARCHAR")} % $EvalMod = 0 AS is_eval FROM dg),
              |ev AS (SELECT DISTINCT gh FROM grams WHERE is_eval)
              |SELECT doc_id, count(*)::BIGINT AS n_shared
              |FROM grams JOIN ev USING (gh) WHERE NOT is_eval
              |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // DUPLICATE-SPAN ANALYSIS — per-document duplicated-8-gram positions
    // (the measurement behind exact-substring dedup, Lee et al. 2022
    // "Deduplicating Training Data Makes Language Models Better": a gram
    // occurring in ≥ 2 distinct documents marks a duplicated span). Output
    // is every document's gram count, duplicated-position count, and the
    // duplicated fraction — the signal a span-removal pass would cut on.
    //
    // Scale (100 TB): the canonical two-shuffle shape — gram-hash
    // partitioned distinct-doc counts (uniform 60-bit keys, no skew), then
    // a same-keyed join back; AQE coalesces both. Per-doc aggregation is
    // map-side combinable; nothing touches the driver.
    QueryDef(
      "q81_dup_spans",
      (s, d) => {
        val pos = docs(s, d)
          .select(col("doc_id"), explode(shingles(col("text"), GramN)).as("g"))
          .select(col("doc_id"), md5Long(col("g")).as("gh"))
        val byGram = pos.select("doc_id", "gh").distinct()
          .groupBy("gh").agg(count(lit(1)).as("nd"))
        pos.join(byGram, "gh")
          .groupBy("doc_id")
          .agg(count(lit(1)).cast("long").as("n_grams"),
            sum(when(col("nd") >= 2, 1L).otherwise(0L)).cast("long").as("n_dup"))
          .withColumn("dup_frac",
            round(col("n_dup").cast("double") / col("n_grams"), 6))
          .orderBy("doc_id")
      },
      Some(s"""WITH $toksCte,
              |$gramCte,
              |g AS (SELECT doc_id, ${hx("g")} AS gh FROM pg),
              |gc AS (SELECT gh, count(DISTINCT doc_id) AS nd FROM g GROUP BY 1),
              |per AS (SELECT doc_id, count(*)::BIGINT AS n_grams,
              |  sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup
              |  FROM g JOIN gc USING (gh) GROUP BY doc_id)
              |SELECT doc_id, n_grams, n_dup,
              |       round(n_dup::DOUBLE / n_grams, 6) AS dup_frac
              |FROM per ORDER BY doc_id""".stripMargin)),

    // PII REDACTION — the scrub pass every released corpus runs (emails,
    // phone numbers, IPv4 addresses → typed placeholders) plus per-doc
    // match counts, the audit signal. The synthetic corpus carries no
    // natural PII (digit-free word soup), so both engines inject the SAME
    // deterministic spans (doc_id-derived, 0–3 of each kind) before
    // scrubbing — the gate then exercises the real machinery: global
    // regexp_replace chains and regexp_count over patterns written in the
    // RE2 ∩ Java dialect (char classes + bounded quantifiers only, no
    // boundaries/lookaround, so both engines match identically).
    //
    // Scale (100 TB): a pure shuffle-free projection — native codegen'd
    // string expressions, no UDF, no driver involvement; redacted text is
    // content-gated by sha256 like q72/q78.
    QueryDef(
      "q84_pii_scrub",
      (s, d) => {
        val nStr = (m: Long) => (col("doc_id") % m).cast("string")
        val aug = concat(
          col("text"), lit(" "),
          call_function("repeat",
            concat(lit("user"), nStr(89), lit("@mail"), nStr(7), lit(".com ")),
            (col("doc_id") % 4).cast("int")),
          call_function("repeat",
            concat(lit("555-"), lpad(((col("doc_id") * 7) % 10000).cast("string"), 4, "0"), lit(" ")),
            (col("doc_id") % 3).cast("int")),
          call_function("repeat",
            concat(lit("10."), nStr(256), lit(".0.1 ")),
            ((col("doc_id") + 1) % 3).cast("int")))
        docs(s, d)
          .withColumn("aug", aug)
          .select(col("doc_id"),
            regexp_count(col("aug"), lit(EmailRe)).cast("long").as("n_email"),
            regexp_count(col("aug"), lit(PhoneRe)).cast("long").as("n_phone"),
            regexp_count(col("aug"), lit(IpRe)).cast("long").as("n_ip"),
            sha2(regexp_replace(regexp_replace(regexp_replace(col("aug"),
              EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>"), IpRe, "<IP>"), 256)
              .as("red_sha"))
          .orderBy("doc_id")
      },
      Some(s"""WITH aug AS (SELECT doc_id, text || ' ' ||
              |  repeat('user' || (doc_id % 89)::VARCHAR || '@mail' || (doc_id % 7)::VARCHAR || '.com ', (doc_id % 4)::INT) ||
              |  repeat('555-' || lpad(((doc_id * 7) % 10000)::VARCHAR, 4, '0') || ' ', (doc_id % 3)::INT) ||
              |  repeat('10.' || (doc_id % 256)::VARCHAR || '.0.1 ', ((doc_id + 1) % 3)::INT) AS a
              |  FROM documents)
              |SELECT doc_id,
              |  len(regexp_extract_all(a, '$EmailRe'))::BIGINT AS n_email,
              |  len(regexp_extract_all(a, '$PhoneRe'))::BIGINT AS n_phone,
              |  len(regexp_extract_all(a, '$IpRe'))::BIGINT AS n_ip,
              |  sha256(regexp_replace(regexp_replace(regexp_replace(a,
              |    '$EmailRe', '<EMAIL>', 'g'), '$PhoneRe', '<PHONE>', 'g'),
              |    '$IpRe', '<IP>', 'g')) AS red_sha
              |FROM aug ORDER BY doc_id""".stripMargin)),

    // DOMAIN-MIXTURE WEIGHTS — per-source corpus share and a
    // temperature-scaled sampling weight (α = 0.5: upsample the tail,
    // downsample the head — the standard multi-source pre-training mix,
    // e.g. XLM-R's α-smoothed sampling). Weight is reported RELATIVE to
    // the largest source (max = 1.0); the client normalizes the O(sources)
    // scalar vector. Every float step is order-free so the hash gate is
    // exact across engines: the share denominator is an INTEGER sum, ÷ and
    // sqrt are IEEE correctly-rounded, and the weight denominator is a
    // max, not a float sum (a Σ share^α float reduction would be
    // summation-order-sensitive in the last ulp).
    //
    // Scale (100 TB): one map-side-combinable groupBy on source; the
    // global window runs over O(distinct sources) rows (thousands-to-
    // millions of tiny rows, not the corpus) — the textbook scalar reduce.
    QueryDef(
      "q85_domain_mix",
      (s, d) => {
        val w = Window.partitionBy()
        docs(s, d)
          .select(col("source"), size(tokens(col("text"))).cast("long").as("n_tok"))
          .groupBy("source")
          .agg(count(lit(1)).cast("long").as("n_docs"),
            sum("n_tok").as("n_tok"))
          .withColumn("share", col("n_tok").cast("double") / sum("n_tok").over(w))
          .withColumn("sw", sqrt(col("share")))
          .select(col("source"), col("n_docs"), col("n_tok"),
            round(col("share"), 6).as("share"),
            round(col("sw") / max("sw").over(w), 6).as("weight"))
          .orderBy("source")
      },
      Some(s"""WITH $toksCte,
              |per AS (SELECT source, count(*)::BIGINT AS n_docs,
              |  sum(len(t))::BIGINT AS n_tok FROM toks GROUP BY source),
              |sh AS (SELECT source, n_docs, n_tok,
              |  n_tok::DOUBLE / sum(n_tok) OVER () AS share FROM per)
              |SELECT source, n_docs, n_tok, round(share, 6) AS share,
              |       round(sqrt(share) / max(sqrt(share)) OVER (), 6) AS weight
              |FROM sh ORDER BY source""".stripMargin)),

    // DUPLICATE-SPAN REMOVAL — the CUT pass acting on q81's signal (Lee et
    // al. 2022's exact-substring dedup): every token covered by an 8-gram
    // occurring in ≥ 2 distinct documents is removed; the cleaned text is
    // emitted content-gated by sha256 plus kept/cut counts. A gram
    // starting at token i covers tokens [i, i+7]; a doc shorter than the
    // gram width is its own single gram (whole-doc cut if duplicated).
    //
    // Scale (100 TB): q81's two-shuffle gram-count shape, then per-doc
    // duplicated START positions aggregate to an array bounded by DOC
    // LENGTH (never corpus-sized), join back on doc_id, and the cut
    // itself is a shuffle-free higher-order filter (token index vs the
    // covered intervals) — no UDF, no driver involvement.
    QueryDef(
      "q86_dup_span_cut",
      (s, d) => {
        val base = docs(s, d).select(col("doc_id"), tokens(col("text")).as("t"))
        val pos = docs(s, d)
          .select(col("doc_id"),
            posexplode(shingles(col("text"), GramN)).as(Seq("s0", "g")))
          .select(col("doc_id"), col("s0"), md5Long(col("g")).as("gh"))
        val dupStarts = pos
          .join(pos.select("doc_id", "gh").distinct()
            .groupBy("gh").agg(count(lit(1)).as("nd")), "gh")
          .where(col("nd") >= 2)
          .groupBy("doc_id").agg(collect_set(col("s0")).as("starts"))
        base.join(dupStarts, Seq("doc_id"), "left")
          .withColumn("starts",
            coalesce(col("starts"), array().cast("array<int>")))
          .withColumn("kept", filter(col("t"), (_, i) =>
            !exists(col("starts"), st => i >= st && i <= st + (GramN - 1))))
          .select(col("doc_id"),
            size(col("t")).cast("long").as("n_tok"),
            size(col("kept")).cast("long").as("n_kept"),
            round(lit(1.0) - size(col("kept")).cast("double") /
              greatest(size(col("t")), lit(1)).cast("double"), 6).as("cut_frac"),
            sha2(concat_ws(" ", col("kept")), 256).as("kept_sha"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $toksCte,
              |psg AS (SELECT doc_id, unnest(CASE WHEN len(t) < $GramN
              |  THEN [{'s': 1, 'g': array_to_string(t,' ')}]
              |  ELSE list_transform(range(1, len(t)-${GramN - 2}), i -> {'s': i, 'g': array_to_string(t[i:i+${GramN - 1}], ' ')}) END) AS u
              |  FROM toks),
              |g AS (SELECT doc_id, (u).s AS s0, ${hx("(u).g")} AS gh FROM psg),
              |gc AS (SELECT gh, count(DISTINCT doc_id) AS nd FROM g GROUP BY 1),
              |ds AS (SELECT doc_id, list(DISTINCT s0) AS starts
              |  FROM g JOIN gc USING (gh) WHERE nd >= 2 GROUP BY doc_id),
              |k AS (SELECT doc_id, t, coalesce(starts, []) AS starts
              |  FROM toks LEFT JOIN ds USING (doc_id)),
              |kk AS (SELECT doc_id, len(t)::BIGINT AS n_tok,
              |  list_filter(list_transform(range(1, len(t)+1),
              |    i -> CASE WHEN len(list_filter(starts, st -> i >= st AND i <= st + ${GramN - 1})) > 0
              |         THEN NULL ELSE t[i] END), x -> x IS NOT NULL) AS kept
              |  FROM k)
              |SELECT doc_id, n_tok, len(kept)::BIGINT AS n_kept,
              |  round(1 - len(kept)::DOUBLE / greatest(n_tok, 1), 6) AS cut_frac,
              |  sha256(coalesce(array_to_string(kept, ' '), '')) AS kept_sha
              |FROM kk ORDER BY doc_id""".stripMargin)),

    // TEMPERED-MIXTURE SAMPLE MATERIALIZATION — q85's α = 0.5 mixture
    // applied: each source contributes floor(sqrt(its token mass)) docs
    // (quota ∝ mass^α — heads damped, tails kept), drawn in md5-hash order
    // like q76 (reproducible, RNG-free). The floor-of-sqrt quota is
    // bit-identical across engines: sqrt of an exactly-representable
    // BIGINT is IEEE correctly-rounded on both.
    //
    // Scale (100 TB): q76's verified-cutoff design — per-source (count,
    // mass) stats are driver-tiny, a broadcast hash-cutoff join prunes the
    // corpus to ~oversample·quota survivors per source in one parallel
    // scan (widened 4× until every source retains min(quota, count), so
    // the result equals the unbounded window at any skew), and only the
    // survivors hit the rank window — O(sources·quota) rows, never a
    // whole source through one task.
    QueryDef(
      "q87_mixture_sample",
      (s, d) => {
        import s.implicits._
        val base = docs(s, d)
          .select(col("doc_id"), col("source"),
            size(tokens(col("text"))).cast("long").as("n_tok"),
            md5Long(col("doc_id").cast("string")).as("hv"))
          .localCheckpoint() // hash once; scanned by stats + filter passes
        val stats = base.groupBy("source")
          .agg(count(lit(1)).as("cnt"), sum("n_tok").as("tok"))
          .as[(String, Long, Long)].collect()
        val quotas = stats.map { case (src, cnt, tok) =>
          (src, cnt, math.sqrt(tok.toDouble).toLong) }
        val MaxHv = 1L << 60
        def survivors(os: Long): org.apache.spark.sql.DataFrame = {
          val cut = quotas.toSeq.map { case (src, cnt, q) =>
            (src, q, if (os * q >= cnt) Long.MaxValue
                     else MaxHv / cnt * (os * q))
          }
          base.join(broadcast(cut.toDF("source", "quota", "cut")), "source")
            .where(col("hv") <= col("cut"))
        }
        val pre = Iterator.iterate(4L)(_ * 4).map(survivors)
          .find { p =>
            val got = p.groupBy("source").agg(count(lit(1)).as("n"))
              .as[(String, Long)].collect().toMap
            quotas.forall { case (src, cnt, q) =>
              got.getOrElse(src, 0L) >= math.min(q, cnt) }
          }.get
        val w = Window.partitionBy("source").orderBy(col("hv"), col("doc_id"))
        pre.withColumn("rk", row_number().over(w).cast("long"))
          .where(col("rk") <= col("quota"))
          .select(col("source"), col("doc_id"), col("n_tok"), col("rk"))
          .orderBy("source", "doc_id")
      },
      Some(s"""WITH $toksCte,
              |st AS (SELECT source,
              |  floor(sqrt(sum(len(t))::DOUBLE))::BIGINT AS quota
              |  FROM toks GROUP BY source),
              |h AS (SELECT doc_id, source, len(t)::BIGINT AS n_tok,
              |  ${hx("doc_id::VARCHAR")} AS hv FROM toks),
              |r AS (SELECT source, doc_id, n_tok,
              |  row_number() OVER (PARTITION BY source ORDER BY hv, doc_id) AS rk
              |  FROM h)
              |SELECT source, doc_id, n_tok, rk::BIGINT AS rk
              |FROM r JOIN st USING (source)
              |WHERE rk <= quota ORDER BY source, doc_id""".stripMargin)),

    // SEQUENCE PACKING — the step after shard chunking: within each q77
    // shard, NEXT-FIT pack documents (in stable doc order) into training
    // sequences of capacity 512 tokens — a doc that does not fit closes the
    // sequence and opens the next (an over-capacity doc sits alone). Every LLM
    // data pipeline runs a form of this before tokenized example assembly.
    //
    // Scale (100 TB): packing is a SEQUENTIAL fold, but only within a
    // shard — and a shard is budget-bounded (≤ ShardBudget tokens ≈ ≤ a
    // few hundred docs), so each group folds in bounded memory via a
    // higher-order `aggregate` over the collected shard (no UDF, no
    // driver); shards themselves pack embarrassingly parallel after q77's
    // distributed prefix sum. The oracle replays the identical fold as a
    // recursive CTE.
    QueryDef(
      "q88_sequence_pack",
      (s, d) => {
        val base = t(s, d, "documents")
          .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tok"))
        val C = SeqCapacity
        val outT = "array<struct<doc_id:bigint,n_tok:bigint,seq:bigint>>"
        val sharded = shardPack(s, base)
          .groupBy("shard")
          .agg(sort_array(collect_list(struct(col("doc_id"), col("n_tok")))).as("ds"))
        val folded = sharded.withColumn("packed", aggregate(
          col("ds"),
          struct(lit(0L).as("fill"), lit(0L).as("seq"),
            array().cast(outT).as("out")),
          (acc, x) => {
            val split = (acc.getField("fill") + x.getField("n_tok") > C) &&
              (acc.getField("fill") > 0L)
            val seq = when(split, acc.getField("seq") + 1L)
              .otherwise(acc.getField("seq"))
            val fill = when(split, x.getField("n_tok"))
              .otherwise(acc.getField("fill") + x.getField("n_tok"))
            struct(fill.as("fill"), seq.as("seq"),
              concat(acc.getField("out"), array(struct(
                x.getField("doc_id").as("doc_id"),
                x.getField("n_tok").as("n_tok"),
                seq.as("seq")))).as("out"))
          },
          acc => acc.getField("out")))
        folded.select(col("shard"), explode(col("packed")).as("p"))
          .select(col("p.doc_id").as("doc_id"), col("p.n_tok").as("n_tok"),
            col("shard"), col("p.seq").as("seq"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $toksCte,
              |c AS (SELECT doc_id, len(t)::BIGINT AS n_tok,
              |        sum(len(t)) OVER (ORDER BY doc_id
              |          ROWS UNBOUNDED PRECEDING) AS cum FROM toks),
              |sh AS (SELECT doc_id, n_tok,
              |       ((cum - n_tok) // $ShardBudget)::BIGINT AS shard FROM c),
              |dd AS (SELECT shard, doc_id, n_tok,
              |  row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn FROM sh),
              |p AS (
              |  SELECT shard, doc_id, n_tok, rn, 0::BIGINT AS seq, n_tok AS fill
              |  FROM dd WHERE rn = 1
              |  UNION ALL
              |  SELECT dd.shard, dd.doc_id, dd.n_tok, dd.rn,
              |    CASE WHEN p.fill + dd.n_tok > $SeqCapacity AND p.fill > 0
              |         THEN p.seq + 1 ELSE p.seq END,
              |    CASE WHEN p.fill + dd.n_tok > $SeqCapacity AND p.fill > 0
              |         THEN dd.n_tok ELSE p.fill + dd.n_tok END
              |  FROM dd JOIN p ON dd.shard = p.shard AND dd.rn = p.rn + 1)
              |SELECT doc_id, n_tok, shard, seq FROM p ORDER BY doc_id""".stripMargin)),

    // STREAMING CURATION — the q79 pipeline run the way a production
    // corpus actually accretes: documents ARRIVE as a stream, each
    // micro-batch passes the q78 quality filter and lands in an
    // exactly-once store (batch-id-keyed partition overwrite — a replayed
    // batch rewrites identical bytes, q50's idempotency shape), the stream
    // is RESTARTED on its checkpoint and must add nothing, and the token-
    // budget shard layout runs at publish time over the materialized
    // keep-set (layout is a property of the published snapshot — packing
    // inside the stream would couple shard numbers to batch arrival
    // order). Drained + laid out result must equal the one-shot batch
    // pipeline exactly — same oracle as q79.
    //
    // Scale (100 TB): the filter is the same shuffle-free projection per
    // micro-batch; the store is append-only partitions; the publish-time
    // layout is q77's distributed prefix sum over (doc_id, n_tok) rows —
    // never the raw text.
    QueryDef(
      "q89_stream_curation",
      (s, d) => {
        val root = Tables.scratch(s,
          s"graft-stream/${new java.io.File(d).getName}")
        val src = s"$root/cur_src"; val out = s"$root/cur_out"
        val ckpt = s"$root/cur_ckpt"
        Seq(src, out, ckpt).foreach { p =>
          val hp = new org.apache.hadoop.fs.Path(p)
          val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
          if (fs.exists(hp)) fs.delete(hp, true)
        }
        val docsDf = t(s, d, "documents")
        // four staged files + maxFilesPerTrigger=1 → four real micro-batches
        (0 until 4).foreach { i =>
          docsDf.where(col("doc_id") % 4 === i)
            .repartition(1).write.mode(org.apache.spark.sql.SaveMode.Append).parquet(src)
        }
        def drain(): Unit = s.readStream.schema(docsDf.schema)
          .option("maxFilesPerTrigger", 1).parquet(src)
          .writeStream.option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
            qualityKeepOf(b).select("doc_id", "n_tok")
              .write.mode("overwrite").parquet(s"$out/batch_id=$id")
          }
          .start().awaitTermination()
        drain()
        drain() // checkpoint restart: zero new offsets, zero new writes
        shardPack(s, s.read.parquet(out).select("doc_id", "n_tok"))
          .select(col("doc_id"), col("n_tok"), col("shard"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $qualityCtes,
              |c AS (SELECT doc_id, n_tok,
              |        sum(n_tok) OVER (ORDER BY doc_id
              |          ROWS UNBOUNDED PRECEDING) AS cum FROM keep)
              |SELECT doc_id, n_tok,
              |       ((cum - n_tok) // $ShardBudget)::BIGINT AS shard
              |FROM c ORDER BY doc_id""".stripMargin))
  )

  /** DuckDB 8-gram expansion (positional, with repeats) — the oracle twin
    * of `shingles(text, GramN)` exploded. */
  private def gramCte: String =
    s"pg AS (SELECT doc_id, unnest(CASE WHEN len(t) < $GramN " +
      "THEN [array_to_string(t,' ')] " +
      s"ELSE list_transform(range(1, len(t)-${GramN - 2}), i -> array_to_string(t[i:i+${GramN - 1}], ' ')) END) AS g FROM toks)"

  /** Same expansion, deduplicated per document (q80's contamination unit is
    * the distinct gram). */
  private def distinctGramCte: String =
    s"dg AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(t) < $GramN " +
      "THEN [array_to_string(t,' ')] " +
      s"ELSE list_transform(range(1, len(t)-${GramN - 2}), i -> array_to_string(t[i:i+${GramN - 1}], ' ')) END)) AS g FROM toks)"

  /** Distributed prefix-sum shard assignment over `(doc_id, n_tok)` rows —
    * shared by q77 (raw corpus) and q79 (curated keep-set).
    *
    * Scale (100 TB): the naive `sum() OVER (ORDER BY doc_id)` is a GLOBAL
    * window — one task owns the whole corpus. Here: range-partition by
    * doc_id (32 here; at scale the partition count follows the input
    * splits), per-partition token totals (one row per partition —
    * driver-tiny) become broadcast prefix offsets, and each partition
    * computes its local running sum + offset in parallel (PlanSpec pins the
    * window stays pid-partitioned). Result is partitioning-independent (any
    * boundary placement yields the same global cumsum), verified exactly by
    * the oracle's single-threaded window. */
  private def shardPack(s: org.apache.spark.sql.SparkSession,
      in: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val base = in.repartitionByRange(32, col("doc_id"))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint() // pin partition ids across the two passes
    val partials = base.groupBy("pid").agg(sum("n_tok").as("tot"))
      .as[(Int, Long)].collect().sortBy(_._1)
    // pid -> tokens in all partitions before it (exclusive prefix)
    val offsets = partials.map(_._1)
      .zip(partials.map(_._2).scanLeft(0L)(_ + _)).toSeq
    val w = Window.partitionBy("pid").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base.join(broadcast(offsets.toDF("pid", "off")), "pid")
      .withColumn("before", sum("n_tok").over(w) - col("n_tok") + col("off"))
      .withColumn("shard", expr(s"before div $ShardBudget"))
  }

  /** The q78 keep-set: documents surviving the quality trio (banded score,
    * duplicate-n-gram ratio, token floor), with the signal columns kept.
    * Shuffle-free projection + filter; both engines compare the same
    * round-6 values. Frame-parametric so the same filter runs over the
    * batch corpus (q78/q79) and over streaming micro-batches (q89). */
  private def qualityKeepOf(in: org.apache.spark.sql.DataFrame) =
    in.select(col("doc_id"), col("text"),
        qualityScoreNative(col("text")).as("quality"),
        size(tokens(col("text"))).cast("long").as("n_tok"),
        // r18: dup_ratio's inputs without materializing the shingle
        // strings — size(graft_shingle_hashes) IS the distinct count
        // (dedup happens on shingle bytes BEFORE hashing), and the total
        // count is determined by the token count (shingles() emits
        // max(size - 2, …) n-grams, or ONE whole-text shingle under 3
        // tokens). Values are bit-identical to
        // size(array_distinct(sh)) / size(sh) over sh = shingles(text, 3)
        // for every NON-NULL text. NULL-text divergence (ADVICE r18 #4):
        // size(NULL) = -1 makes the old form 1 − (−1/−1) = 0.0 while this
        // form gives 1 − (−1/1) = 2.0 — unobservable here because the
        // quality >= 0.5 predicate below already drops NULL-text rows
        // (NULL quality fails the filter); a future consumer surfacing
        // dup_ratio UNFILTERED must not rely on its NULL-text value.
        size(distinctShingleHashes(col("text"), 3)).as("n_dist_sh"))
      .withColumn("dup_ratio",
        round(lit(1.0) - col("n_dist_sh").cast("double") /
          when(col("n_tok") <= 2, lit(1)).otherwise(col("n_tok") - 2)
            .cast("int"), 6))
      .where(col("quality") >= 0.5 && col("dup_ratio") <= 0.01
        && col("n_tok") >= 20)

  private def qualityKeep(s: org.apache.spark.sql.SparkSession, d: String) =
    qualityKeepOf(docs(s, d))

  /** DuckDB twin of [[qualityKeep]] (CTE chain ending in `keep`). */
  private def qualityCtes: String =
    s"""$toksCte,
       |q AS (SELECT doc_id, text, t, round((
       |    CASE WHEN len(t) BETWEEN 5 AND 1000 THEN 1.0 ELSE 0.0 END
       |  + CASE WHEN (CASE WHEN len(t) = 0 THEN 0.0
       |      ELSE list_aggregate(list_transform(t, x -> len(x)), 'sum')::DOUBLE / len(t) END)
       |      BETWEEN 2 AND 12 THEN 1.0 ELSE 0.0 END
       |  + CASE WHEN len(text) = 0 THEN 0.0
       |      ELSE len(regexp_replace(text, '[^a-zA-Z ]', '', 'g'))::DOUBLE / len(text) END
       |  ) / 3.0, 6) AS quality FROM toks),
       |r AS (SELECT doc_id, round(1.0 - len(list_distinct(s))::DOUBLE / len(s), 6) AS dup_ratio
       |  FROM (SELECT doc_id, CASE WHEN len(t) < 3
       |    THEN [array_to_string(t, ' ')]
       |    ELSE list_transform(range(1, len(t)-1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END AS s
       |    FROM toks)),
       |keep AS (SELECT q.doc_id, q.text, q.quality, r.dup_ratio, len(q.t)::BIGINT AS n_tok
       |  FROM q JOIN r USING (doc_id)
       |  WHERE q.quality >= 0.5 AND r.dup_ratio <= 0.01 AND len(q.t) >= 20)""".stripMargin
}
