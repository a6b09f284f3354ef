package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.cawd.CawdExport

/** Training-data text pipeline pack over the `documents` table: exact and
  * near deduplication (MinHash+LSH, SimHash, n-gram Jaccard), language ID,
  * quality scoring, token counting, winnowing fingerprints.
  *
  * Design for verifiability: every hash-based sketch is built from md5 —
  * identical lowercase-hex output in Spark and DuckDB — so even MinHash /
  * SimHash get full value-level oracles rather than rows-only checks.
  *
  * Design for 100 TB:
  *   - shingling/minhash is one explode + one hash-aggregate per doc (k min
  *     aggregates evaluated per shingle row — NOT a k-way explode);
  *   - candidate generation is an equi-join on band keys (shuffle on band
  *     key, no cross join); exact Jaccard verification touches only
  *     candidates;
  *   - SimHash pairing joins on 16-bit bands (pigeonhole: hamming ≤ 6 over
  *     64 bits ⇒ at least one of 4 bands equal), never all-pairs;
  *   - per-doc scoring ops are pure narrow projections (no shuffle).
  */
object TextQueries {

  /** Whitespace tokens of `text`. */
  private val toks: Column = split(col("text"), " ")

  /** Word 3-gram shingles (distinct per doc), built from a pre-split token
    * array column `w` — the split regex runs ONCE per document, not once per
    * element inside the transform lambda (Catalyst does not common-
    * subexpression-eliminate through lambda bodies, so inlining `split`
    * costs O(tokens) regex evaluations per doc).
    */
  private val shingleExpr =
    """CASE WHEN size(w) >= 3 THEN
      |  array_distinct(transform(sequence(1, size(w) - 2),
      |    i -> concat_ws(' ', element_at(w, i),
      |                        element_at(w, i + 1),
      |                        element_at(w, i + 2))))
      |ELSE array() END""".stripMargin

  /** Word 5-gram shingles over a pre-split token array `w` (decontamination
    * granularity — same shape d15 inlines in SQL form).
    */
  private[graft] val shingle5Expr =
    """CASE WHEN size(w) >= 5 THEN
      |  transform(sequence(1, size(w) - 4), i -> concat_ws(' ',
      |    element_at(w, i), element_at(w, i + 1), element_at(w, i + 2),
      |    element_at(w, i + 3), element_at(w, i + 4)))
      |ELSE array() END""".stripMargin

  private val ShingleSqlCtes =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
      |       FROM toks, UNNEST(range(1, len(w)-1)) AS g(i)),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1)""".stripMargin

  /** MinHash parameters: k independent md5-derived hash functions, banded
    * r rows × b bands for LSH (k = r*b). Threshold ~ (1/b)^(1/r) ≈ 0.63.
    */
  val MinHashK = 12
  val MinHashR = 3
  /** Largest prime below 2^29: keeps h1 + k·h2 (< 2^28 + K·2^28) inside
    * BIGINT in both engines — DuckDB errors on BIGINT overflow rather than
    * wrapping, so the scheme must never approach 2^63.
    */
  val MinHashPrime = 536870909L

  /** DuckDB mirror of [[minhashBands]]: expects a `sh(doc_id, s)` CTE in
    * scope, adds `shh` (two 28-bit pieces of one md5), `mh` (K derived
    * min-hashes) and `bands` (banded keys).
    */
  private def minhashBandCtes: String =
    s"""shh AS (SELECT doc_id,
       |          CAST('0x' || substr(md5(s), 1, 7) AS BIGINT) AS h1,
       |          CAST('0x' || substr(md5(s), 8, 7) AS BIGINT) AS h2 FROM sh),
       |mh AS (SELECT doc_id, k, min((h1 + k * h2) % $MinHashPrime) AS mv
       |       FROM shh, UNNEST(range(0, $MinHashK)) AS t(k) GROUP BY 1, 2),
       |bands AS (SELECT doc_id, k // $MinHashR AS band,
       |                 string_agg(CAST(mv AS VARCHAR), '|' ORDER BY k) AS bkey
       |          FROM mh GROUP BY 1, 2)""".stripMargin
  val JaccardThreshold = 0.8

  /** d22: minimum levenshtein similarity (1 - dist/max(len)) for a
    * candidate pair to count as a fuzzy duplicate.
    */
  val EditSimThreshold = 0.8

  /** d25: vocabulary size cap (top tokens by count). */
  val VocabSize = 1000

  /** KMV sketch size (k smallest hash values kept per group). */
  val KmvK = 64

  /** fraction(h) ∈ (0,1): the first 8 hex nibbles of `h` as a base-16
    * fraction, spelled with the SAME arithmetic in Spark and DuckDB so the
    * doubles are bit-identical. `strposFn` = instr (Spark) / strpos (DuckDB).
    */
  private def hexFractionSql(col: String, strposFn: String): String =
    // CAST…AS DOUBLE: Spark parses non-exponent literals (16.0) as
    // DECIMAL(3,1) while DuckDB uses DOUBLE — mixed decimal/double division
    // skews the sum by ~1e-6 and breaks the value-level hash compare.
    (1 to 8).map { i =>
      s"($strposFn('0123456789abcdef', substr($col, $i, 1)) - 1) / CAST(${math.pow(16.0, i)} AS DOUBLE)"
    }.mkString("(", " + ", ")")

  /** SimHash: 64-bit fingerprint from per-token md5 bits, tf-weighted;
    * emitted as 4 × 16-bit band ints so band-joins and XOR popcount need no
    * hex decoding. Hamming radius 6 ⇒ one of 4 bands must match exactly.
    */
  val HammingRadius = 6

  // --- shared spark fragments -------------------------------------------

  private[graft] def docShingles(df: DataFrame): DataFrame =
    df.select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), explode(expr(shingleExpr)).as("s"))

  /** Version tag baked into the persistent fingerprint exports' content
    * key: bump when shingling, the minhash family, or the global shingle
    * order changes, so a previous round's on-disk table can never silently
    * serve stale fingerprints.
    */
  private val FingerprintVersion = "fp-v1"
  private def fpCorpusKey(s: SparkSession, d: String): String =
    CawdExport.corpusContentKey(s, Seq(s"$d/documents.parquet"),
      FingerprintVersion)

  /** Build-side session for the persistent fingerprint exports: shuffle
    * partitions sized from the documents table's compressed bytes at 2 MB
    * per partition (floor: core count), AQE on. These one-time builds sort
    * and SMJ the EXPLODED shingle stream — ~30× the compressed text bytes
    * (one row per word 3-gram) — so under the session-wide cores-sized
    * constant the whole corpus's shingles funnel through 32 sort tasks:
    * at the fifth decade (810 MB documents, ~0.5 B shingle rows) that is
    * ~15 M rows ≈ 1 GB raw per concurrent sort, and the shingle_rank /
    * jaccard_pairs build chain OOM'd a 24 GB heap (round-17 cold run,
    * TimSort allocation inside the Sort→SMJ→shuffle-write stage). 2 MB of
    * compressed text ≈ 60 MB of exploded shingle rows per task — the
    * guide's shuffle-partition target band — giving ~405 partitions at the
    * fifth decade and the unchanged cores floor at sf0.1 and below. Warm
    * reads never touch this session; only the per-corpus build does.
    */
  private def fpBuild(s: SparkSession, d: String): SparkSession =
    RelationalQueries.sizedForInput(s, "fp-build", d, "documents",
      bytesPerPartition = 2L * 1024 * 1024)

  /** Globally-ranked shingle table (doc_id, s, rnk, n) — each doc's
    * distinct 3-gram shingles under the PPJoin global order (document
    * frequency asc, then shingle) with the doc's shingle count — persisted
    * ACROSS sessions keyed by the corpus content hash (the round-7 media
    * export pattern). The table is a pure function of the documents corpus
    * and it feeds FOUR near-dup pipelines (d05 prefix+verify, d06/d10/d22
    * shingle sets and minhash input), so a real pipeline materializes the
    * shingle pass once per corpus instead of once per query per JVM —
    * round-7 profiling (SCALE.md "d22 decomposition at 100×") measured
    * candidate GENERATION, not
    * verification, as ~80% of d22's 100× cost, and d06 recomputed the
    * identical tables. Validity is decided by the content key (corpus hash
    * + [[FingerprintVersion]]), never by session lifetime.
    */
  private[graft] def rankedShingles(s: SparkSession, d: String): DataFrame =
    s.read.parquet(CawdExport.write(s, d, "shingle_rank",
      Some(fpCorpusKey(s, d))) { out =>
        val b = fpBuild(s, d)
        val sh = docShingles(documentsDense(b, d))
        val dfreq = sh.groupBy("s").agg(count(lit(1)).as("df"))
        // rnk and n come from two window functions over the same doc_id
        // distribution, so the build shuffles the shingle set exactly once
        val w = Window.partitionBy(col("doc_id"))
        sh.join(dfreq, "s")
          .select(col("doc_id"), col("s"),
            row_number().over(w.orderBy(col("df"), col("s"))).as("rnk"),
            count(lit(1)).over(w).as("n"))
          .write.parquet(out)
      })

  /** MinHash LSH band table (doc_id, band, bkey), persisted per corpus
    * like [[rankedShingles]] (which it derives from, sharing the one
    * shingle pass). d06, d10 and d22 all consume THIS table for candidate
    * generation — one fingerprint build per corpus, three pipelines.
    */
  private[graft] def minhashBandsOf(s: SparkSession, d: String): DataFrame =
    s.read.parquet(CawdExport.write(s, d, "minhash_bands",
      Some(fpCorpusKey(s, d)))(
      minhashBands(rankedShingles(fpBuild(s, d), d)
        .select(col("doc_id"), col("s"))).write.parquet(_)))

  /** VERIFIED near-dup pair set (ida, idb, jaccard ≥ [[JaccardThreshold]])
    * — the MinHash-LSH candidate join plus exact-Jaccard verification,
    * persisted per corpus like the tables it derives from. d06 IS this
    * table; d10 is connected components OVER it — recomputing the verify
    * join per query re-paid the corpus's second-most-expensive shuffle
    * (measured 1000×: d10 spent ~60 s re-verifying pairs d06 had just
    * written). The threshold is baked into the content key, so retuning
    * it rebuilds rather than silently serving pairs at the old cut.
    */
  private[graft] def neardupPairs(s: SparkSession, d: String): DataFrame =
    s.read.parquet(CawdExport.write(s, d, "neardup_pairs",
      Some(fpCorpusKey(s, d) + s":j=$JaccardThreshold")) { out =>
        val b = fpBuild(s, d)
        val sh = rankedShingles(b, d).select(col("doc_id"), col("s"))
        val bands = minhashBandsOf(b, d)
        val cands = bands.as("a")
          .join(bands.as("b"),
            col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("ida"), col("b.doc_id").as("idb")).distinct()
        jaccardOf(sh, Some(cands)).filter(col("jaccard") >= JaccardThreshold)
          .write.parquet(out)
      })

  /** EXACT Jaccard pair set via PPJoin prefix filtering (ida, idb,
    * jaccard ≥ [[JaccardThreshold]]) — persisted per corpus like
    * [[neardupPairs]], with the threshold and derivation version in the
    * content key. Unlike the LSH table this one is exact: under a global
    * shingle order (document frequency asc, then shingle), any pair with
    * J >= t must share a shingle in each doc's first n - ceil(t*n) + 1
    * shingles, so only prefixes are indexed for the candidate join — hot
    * stopword shingles (the skew killers at corpus scale) almost never
    * generate candidates — yet the result set is PROVABLY identical to
    * the all-pairs definition the oracle computes.
    *
    * SHELF TRIGGER for PPJoin+'s positional filter (pins the premise the
    * shelf decision rests on — round 13, fifth decade, SCALE.md "The two
    * dominant cold terms decomposed"): the
    * dominant cold term is the exact-VERIFY join (~160-237 s of the
    * 215.9 s fused build) and it scales with the CANDIDATE count, not
    * corpus size — this corpus's 1000×-replica structure gives every doc
    * ~10³ byte-near twins, flooding the prefix filter (42.37 M candidates
    * → 256 k verified pairs, 0.6 % precision). The candidates are provably
    * complete, so the only exact tightening left is the positional filter:
    * it prunes candidates by prefix-match POSITION (an upper bound on the
    * remaining overlap) before the shingle verify join and stays exact.
    * REVISIT when candidate precision falls below ~0.1 % or the verify
    * term alone exceeds ~10 % of the cold suite; nothing else about the
    * query changes (same prefix index, same verify, same export key —
    * bump the derivation version in the content key when it lands).
    */
  private[graft] def jaccardPairsPersisted(s: SparkSession, d: String): DataFrame =
    s.read.parquet(CawdExport.write(s, d, "jaccard_pairs",
      Some(fpCorpusKey(s, d) + s":ppjoin:j=$JaccardThreshold")) { out =>
      // ONE persisted table serves every downstream role (prefix
      // candidates, both verify sides, set sizes) — see [[rankedShingles]]
      val ranked = rankedShingles(fpBuild(s, d), d)
      val cands = ppjoinCandidates(ranked)
        .cache() // three plan branches: two semi prunes + the size lookup
      // candidate-only exact verify: prune each shingle side to candidate
      // docs, count common shingles, read set sizes off the cand row itself
      val shA = ranked.join(
        cands.select(col("ida").as("doc_id")).distinct(), Seq("doc_id"), "left_semi")
      val shB = ranked.join(
        cands.select(col("idb").as("doc_id")).distinct(), Seq("doc_id"), "left_semi")
      val common = shA.as("x")
        .join(shB.as("y"),
          col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id"))
        .join(cands,
          col("x.doc_id") === cands("ida") && col("y.doc_id") === cands("idb"),
          "left_semi")
        .groupBy(col("x.doc_id").as("ida"), col("y.doc_id").as("idb"))
        .agg(count(lit(1)).as("common"))
      common.join(cands, Seq("ida", "idb"))
        .select(col("ida"), col("idb"),
          round(col("common").cast("double") /
            (col("na") + col("nb") - col("common")), 6).as("jaccard"))
        .filter(col("jaccard") >= JaccardThreshold)
        .write.parquet(out)
    })

  /** Persisted per-corpus BENCHMARK shingle set: the distinct 5-gram
    * shingles of source 'src0' — the static side of every decontamination
    * pipeline. d15, d17 and s07 each re-derived it per run (an
    * explode+DISTINCT shuffle of the full benchmark text); like the
    * fingerprint family it is a pure function of the documents corpus, so
    * it materializes once per corpus under the content-key contract.
    */
  private[graft] def benchShingles(s: SparkSession, d: String): DataFrame =
    s.read.parquet(CawdExport.write(s, d, "bench_shingles",
      Some(fpCorpusKey(s, d) + ":bench5:src0"))(
      documentsDense(fpBuild(s, d), d)
        .filter(col("source") === "src0")
        .select(split(col("text"), " ").as("w"))
        .select(explode(expr(shingle5Expr)).as("s5"))
        .distinct()
        .write.parquet(_)))

  /** Persisted serialized Bloom filter over [[benchShingles]] (one binary
    * row), built by Spark's native BloomFilterAggregate over xxhash64(s5)
    * at fpp = 3% optimal bits. d15 and d17 prefilter the corpus-side
    * shingle stream with it as a narrow codegen'd bit-test — re-entering
    * the plan as a literal, so the prefilter costs no exchange — and the
    * build itself (a full pass + count over the benchmark set) is now
    * paid once per corpus instead of per query per JVM.
    */
  private[graft] def benchBloomBytes(s: SparkSession, d: String): Array[Byte] = {
    // the effective bit budget is part of the artifact's identity: the
    // aggregate clamps its nBits request to the session's bloom maxNumBits
    // conf, so a bloom persisted under an older (smaller) clamp is a
    // DIFFERENT filter than the one this session would build — without the
    // conf in the key it would keep validating and silently serve a starved
    // prefilter after a clamp raise (exactly the round-11 2^26 incident;
    // correctness is safe either way, the exact semi-join removes false
    // positives). Folding the granted ceiling in makes clamp/conf changes
    // rebuild, per the file's schedule-change-bumps-the-key contract.
    val maxBits = s.conf.getOption(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumBits").getOrElse("67108864")
    s.read.parquet(CawdExport.write(s, d, "bench_bloom",
      Some(fpCorpusKey(s, d) + s":bench5:src0:fpp3:maxbits=$maxBits")) { out =>
        val bench = benchShingles(s, d)
        val nItems = math.max(bench.count(), 1L)
        // m = ceil(-n·ln(p) / ln(2)^2) optimal bits at fpp = 3%
        val nBits = math.max(64L,
          math.ceil(-nItems * math.log(0.03) /
            (math.log(2) * math.log(2))).toLong)
        bench.agg(call_function("graft_bloom_agg", xxhash64(col("s5")),
          lit(nItems), lit(nBits)).as("bf"))
          .write.parquet(out)
      }).head().getAs[Array[Byte]]("bf")
  }

  /** PPJoin candidate pairs (ida, idb, na, nb) from a ranked shingle table
    * — prefix index + length filter + positional filter, all exact (no
    * candidate that could verify is ever pruned).
    */
  private[graft] def ppjoinCandidates(ranked: DataFrame): DataFrame = {
      // n - floor(t*n) + 1 >= the exact bound n - ceil(t*n) + 1 for every
      // n (equal when t*n is integral, one longer otherwise) and immune to
      // double ceil() overshoot (ceil(15*0.8) = 13 in floating point)
      val prefix = ranked
        .filter(col("rnk") <= col("n") - floor(col("n") * JaccardThreshold) + 1)
      prefix.as("a")
        .join(prefix.as("b"),
          col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
            // PPJoin length filter: J >= t forces t·max(na,nb) <= min(na,nb).
            // floor() on the float product only ever WEAKENS the bound
            // (never prunes a pair where min/max = t exactly, e.g. 12/15
            // with t = 0.8 where 0.8*15 floats to 12.000000000000002)
            least(col("a.n"), col("b.n")) >=
              floor(greatest(col("a.n"), col("b.n")) * JaccardThreshold) &&
            // PPJoin positional filter: the global shingle order is shared,
            // so for a common shingle at per-doc ranks (pa, pb), common
            // shingles BEFORE it number <= min(pa-1, pb-1) and FROM it on
            // <= min(na-pa+1, nb-pb+1); their sum bounds the overlap O.
            // J >= t forces O >= t/(1+t)·(na+nb), so a join row whose
            // bound falls below that can't come from a qualifying pair —
            // and every common shingle of a qualifying pair satisfies the
            // bound, so no candidate is lost. The -1e-9 keeps a float
            // product landing a hair above an exact integer threshold
            // from pruning a boundary pair (bound is integral; the true
            // threshold t/(1+t)·(na+nb) = 4/9·(na+nb) at t=0.8 is exact
            // in rationals).
            (least(col("a.rnk"), col("b.rnk")) - 1 +
              least(col("a.n") - col("a.rnk"), col("b.n") - col("b.rnk")) + 1) >=
              (col("a.n") + col("b.n")) * (JaccardThreshold / (1 + JaccardThreshold)) - 1e-9)
        .select(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"),
          col("a.n").as("na"), col("b.n").as("nb"))
        .distinct()
  }

  /** (doc_id, band, bkey) minhash LSH band keys from a (doc_id, s) shingle
    * set. One shingle explode, k min aggregates, band concat — the at-scale
    * shape.
    */
  private[graft] def minhashBands(sh: DataFrame): DataFrame = {
    // ONE md5 per shingle, K derived hashes g_k = (h1 + k·h2) mod p
    // (Kirsch–Mitzenmacher two-hash scheme — the standard replacement for K
    // independent hash functions). K separate md5 calls dominated this
    // pipeline's profile; the derived hashes are three integer ops each,
    // and the min-aggregate runs over BIGINTs instead of 32-char strings.
    val withH = sh
      .withColumn("__h", md5(col("s")))
      .select(col("doc_id"),
        expr("CAST(conv(substring(__h, 1, 7), 16, 10) AS BIGINT)").as("h1"),
        expr("CAST(conv(substring(__h, 8, 7), 16, 10) AS BIGINT)").as("h2"))
    val mins = (0 until MinHashK).map(k =>
      min((col("h1") + lit(k.toLong) * col("h2")) % MinHashPrime).as(s"h$k"))
    val sig = withH.groupBy("doc_id").agg(mins.head, mins.tail: _*)
    val bands = (0 until MinHashK / MinHashR).map { b =>
      val cols = (b * MinHashR until (b + 1) * MinHashR)
        .map(k => col(s"h$k").cast("string"))
      struct(lit(b).as("band"), concat_ws("|", cols: _*).as("bkey"))
    }
    sig.select(col("doc_id"), explode(array(bands: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
    // no cache: the only caller is the [[minhashBandsOf]] persistent-export
    // builder, which writes the table to parquet once per corpus — the
    // band self-joins downstream read the parquet, not this plan
  }

  /** Exact pairwise Jaccard over a cached (doc_id, s) shingle set
    * (ida < idb), optionally restricted to a candidate-pair set (the LSH
    * path — only candidates are verified).
    */
  private def jaccardOf(sh: DataFrame, cands0: Option[DataFrame]): DataFrame = {
    // the candidate set feeds THREE plan branches (both semi-join prunes +
    // the pair restriction); without materialization the whole upstream
    // LSH/prefix self-join re-executes per branch
    val cands = cands0.map(_.cache())
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // prune each join side to docs that appear in candidates BEFORE the
    // shingle-match join — the LSH verify stage then scales with the
    // candidate set, not the corpus
    val shA = cands.fold(sh)(c =>
      sh.join(c.select(col("ida").as("doc_id")).distinct(), Seq("doc_id"), "left_semi"))
    val shB = cands.fold(sh)(c =>
      sh.join(c.select(col("idb").as("doc_id")).distinct(), Seq("doc_id"), "left_semi"))
    val joined = shA.as("a")
      .join(shB.as("b"), col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
    val restricted = cands.fold(joined)(c =>
      joined.join(c, col("a.doc_id") === c("ida") && col("b.doc_id") === c("idb"), "left_semi"))
    val common = restricted
      .groupBy(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.as("sa"), col("ida") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("idb") === col("sb.doc_id"))
      .select(col("ida"), col("idb"),
        round(col("common").cast("double") /
          (col("sa.n") + col("sb.n") - col("common")), 6).as("jaccard"))
  }

  /** 64-bit tf-weighted SimHash as 4 × 16-bit bands. `side` selects Spark
    * (shiftright) vs DuckDB (>>) operator spelling; everything else is
    * common SQL so both engines compute identical values.
    */
  /** SimHash fingerprint table (doc_id, b0..b3), persisted per corpus like
    * [[rankedShingles]]. The build runs the native
    * [[graft.functions.SimhashFingerprint]] kernel — per-doc, zero
    * exchanges, vs the relational form's explode→tf→join→re-agg three-
    * shuffle pipeline (~40 GB of shuffle at the 1000× corpus, the spill
    * that ENOSPC'd the first fifth-decade run; the ORACLE still runs the
    * relational [[simhashSql]] as the independent re-derivation and the
    * correctness gate hash-compares the two). Persisting — rather than
    * running the kernel in each query plan — matters twice over: (1)
    * d08's band self-join consumes the fingerprints TWICE, so an in-plan
    * kernel would run the md5 pass over the corpus twice per query; (2)
    * joining directly over the kernel projection lets Catalyst rewrite
    * the inferred join-key `isnotnull(bval)` into a per-row
    * `simhash_fp(text)[..]` filter pushed below the spread exchange —
    * the kernel-above-spread gate caught exactly that on the first
    * in-plan wiring. Reading the bands back as plain parquet columns
    * keeps every downstream filter in the scan.
    */
  private[graft] def simhashesOf(s: SparkSession, d: String): DataFrame =
    s.read.parquet(CawdExport.write(s, d, "simhash_fp",
      Some(fpCorpusKey(s, d))) { out =>
        val sh = documentsDense(s, d)
          .select(col("doc_id"), expr("simhash_fp(text)").as("sh"))
        // two Projects on purpose: sh is non-cheap and referenced four
        // times, which blocks CollapseProject from quadrupling the kernel
        sh.select(col("doc_id"), col("sh")(0).as("b0"), col("sh")(1).as("b1"),
          col("sh")(2).as("b2"), col("sh")(3).as("b3"))
          .write.parquet(out)
      })

  private[graft] def simhashSql(spark: Boolean): String = {
    def shr(x: String, n: Int) = if (spark) s"shiftright($x, $n)" else s"($x >> $n)"
    // bit p (0..63) of md5(token): nibble = hex char p/4, bit = (nib >> (3-p%4)) & 1
    val tokenBits = (0 until 64).map { p =>
      val nib = s"(strpos('0123456789abcdef', substr(h, ${1 + p / 4}, 1)) - 1)"
      s"(${shr(nib, 3 - p % 4)} & 1) AS bit$p"
    }.mkString(", ")
    val bitSums = (0 until 64).map(p => s"sum(tf * (2 * bit$p - 1)) AS s$p").mkString(", ")
    val bandCols = (0 until 4).map { b =>
      val bits = (b * 16 until (b + 1) * 16).map { p =>
        s"(CASE WHEN s$p > 0 THEN ${1L << (15 - p % 16)} ELSE 0 END)"
      }.mkString(" + ")
      s"CAST($bits AS BIGINT) AS b$b"
    }.mkString(", ")
    val strposFn = if (spark) "instr" else "strpos"
    val splitFn = if (spark) "split" else "string_split"
    // the md5-bit extraction runs once per DISTINCT token (tok CTE), not per
    // token occurrence — token vocabularies are Zipf-distributed, so this
    // cuts the string work by orders of magnitude at corpus scale; the
    // per-doc weighted bit sums are unchanged.
    s"""WITH tf AS (SELECT doc_id, t, count(*) AS tf
       |  FROM (SELECT doc_id, ${if (spark) "explode" else "unnest"}($splitFn(text, ' ')) AS t FROM documents) x
       |  GROUP BY doc_id, t),
       |tok AS (SELECT t, $tokenBits
       |        FROM (SELECT t, md5(t) AS h FROM (SELECT DISTINCT t FROM tf) d) x),
       |th AS (SELECT * FROM tf JOIN tok USING (t)),
       |bits AS (SELECT doc_id, $bitSums FROM th GROUP BY doc_id)
       |SELECT doc_id, $bandCols FROM bits""".stripMargin
      .replace("strpos(", strposFn + "(")
  }

  /** d19 SQL — IDENTICAL text in both engines: `nfc_normalize` is DuckDB
    * built-in and a graft native Catalyst expression in Spark (same name),
    * and the combining acute (U+0301) is embedded as a raw UTF-8 character
    * so neither engine's escape rules are involved. Both engines count
    * string length in code points, so raw/nfc lengths compare exactly.
    */
  private val normalizeSql: String = {
    val mark = "\u0301"
    s"""WITH dec AS (
       |  SELECT doc_id, replace(text, 'a', 'a$mark') AS decorated FROM documents),
       |n AS (SELECT doc_id, decorated, nfc_normalize(decorated) AS norm FROM dec)
       |SELECT doc_id, length(decorated) AS raw_len, length(norm) AS nfc_len,
       |  md5(norm) AS norm_hash
       |FROM n""".stripMargin
  }

  /** d20 SQL: inject deterministic contact strings from doc fields, then
    * count + redact with patterns inside the RE2 ∩ Java-regex subset
    * (character classes, escapes, bounded repeats — no lookaround).
    */
  private def piiRedactSql(spark: Boolean): String = {
    val cast = if (spark) "STRING" else "VARCHAR"
    val emailRe = "[a-z0-9._-]+@[a-z0-9.-]+"
    // Spark SQL string literals process backslash escapes, DuckDB's don't:
    // the regex engine must see \+ on both sides
    val phoneRe = if (spark) "\\\\+1-555-[0-9]{4}" else "\\+1-555-[0-9]{4}"
    val aug =
      s"""aug AS (
         |  SELECT doc_id,
         |    concat(text,
         |      ' contact user', CAST(doc_id AS $cast), '@mail-', source, '.net',
         |      repeat(concat(' cc backup', CAST(doc_id AS $cast), '@org-', source, '.com'),
         |             CAST(doc_id % 3 AS INT)),
         |      ' call +1-555-', lpad(CAST(doc_id % 10000 AS $cast), 4, '0')) AS t
         |  FROM documents)""".stripMargin
    if (spark)
      // Round 17 (SCALE.md "Round 17: the r16 probe program", fifth
      // decade): the count+replace
      // shape paid FOUR regex scans of the text per row (two
      // regexp_extract_all + two regexp_replace). split() yields count
      // and replacement in ONE scan: for a pattern that cannot match the
      // empty string, concat_ws(sep, split(s, re, -1)) ≡
      // regexp_replace(s, re, sep) and size(split(s, re, -1)) - 1 ≡ the
      // match count (limit -1 keeps trailing empties, so the identity is
      // exact; same Java regex engine both ways). The email count and
      // replacement share one split array; the phone count stays a scan
      // of t (not clean) to mirror the shipped semantics by construction.
      // 4 regex scans -> 3, and split's segment slicing is cheaper than
      // extract_all's per-match group machinery. Measured warm legs
      // 43.9/25.9 s shipped vs 17.3/16.3 s (1.6x at matched windows);
      // value-identical (exceptAll 0 rows both ways). The ORACLE keeps
      // the count+replace derivation as the independent re-derivation.
      s"""WITH $aug,
         |seg AS (
         |  SELECT doc_id, t, split(t, '$emailRe', -1) AS se FROM aug),
         |red AS (
         |  SELECT doc_id,
         |    CAST(size(se) - 1 AS BIGINT) AS n_emails,
         |    CAST(size(split(t, '$phoneRe', -1)) - 1 AS BIGINT) AS n_phones,
         |    concat_ws('<PHONE>',
         |      split(concat_ws('<EMAIL>', se), '$phoneRe', -1)) AS clean
         |  FROM seg)
         |SELECT doc_id, n_emails, n_phones,
         |  length(clean) AS clean_len, md5(clean) AS clean_hash
         |FROM red""".stripMargin
    else
      s"""WITH $aug,
         |red AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_extract_all(t, '$emailRe')) AS BIGINT) AS n_emails,
         |    CAST(len(regexp_extract_all(t, '$phoneRe')) AS BIGINT) AS n_phones,
         |    regexp_replace(regexp_replace(t, '$emailRe', '<EMAIL>', 'g'),
         |      '$phoneRe', '<PHONE>', 'g') AS clean
         |  FROM aug)
         |SELECT doc_id, n_emails, n_phones,
         |  length(clean) AS clean_len, md5(clean) AS clean_hash
         |FROM red""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup: content-hash grouping (normalize → md5 → min-id canonical).
    "d01_exact_dedup" -> ((s, d) => {
      documents(s, d)
        .withColumn("text_hash",
          md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")))
        .groupBy(col("text_hash"))
        .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))
    }),

    // Token counting: whitespace + BPE-ish regex tokens, distinct ratio.
    "d02_token_stats" -> ((s, d) => {
      documents(s, d).select(
        col("doc_id"),
        size(toks).as("n_tokens"),
        size(array_distinct(toks)).as("n_distinct"),
        size(expr("regexp_extract_all(text, '\\\\w+|[^\\\\w\\\\s]', 0)")).as("n_regex_tokens"),
        length(col("text")).as("n_chars"),
        round(length(regexp_replace(col("text"), "\\s", "")).cast("double") /
          size(toks), 6).as("avg_token_len"))
    }),

    // Quality scoring: length/stopword/diversity signals → one score.
    "d03_quality_score" -> ((s, d) => {
      val nTok = size(toks).cast("double")
      val nStop = size(expr(
        "filter(split(text, ' '), x -> x IN ('the','a','of','and','in','to','is'))")).cast("double")
      val distinctRatio = size(array_distinct(toks)).cast("double") / nTok
      val stopRatio = nStop / nTok
      documents(s, d).select(
        col("doc_id"),
        round(stopRatio, 6).as("stopword_ratio"),
        round(distinctRatio, 6).as("distinct_ratio"),
        round(least(nTok / 100.0, lit(1.0)) * 0.4 + distinctRatio * 0.3 + stopRatio * 0.3, 6)
          .as("quality_score"))
    }),

    // Language ID: marker-token n-gram heuristic with fixed tie-break.
    "d04_lang_id" -> ((s, d) => {
      def markers(ws: Seq[String]): Column =
        size(expr(s"filter(split(text, ' '), x -> x IN (${ws.map("'" + _ + "'").mkString(",")}))"))
      val cEn = markers(Seq("the", "is", "of", "and"))
      val cDe = markers(Seq("der", "die", "und", "ist"))
      val cEs = markers(Seq("el", "la", "que", "es"))
      documents(s, d).select(
        col("doc_id"), col("lang").as("labeled_lang"),
        cEn.as("c_en"), cDe.as("c_de"), cEs.as("c_es"),
        when(cEn >= cDe && cEn >= cEs && cEn > 0, "en")
          .when(cDe >= cEs && cDe > 0, "de")
          .when(cEs > 0, "es")
          .otherwise("unknown").as("predicted_lang"))
    }),

    // EXACT n-gram Jaccard pairs via PPJoin (see [[jaccardPairsPersisted]]
    // for the prefix/length/positional-filter proofs) — d05 IS the
    // persisted table (round 9,
    // the d06 pattern): the PPJoin candidate+verify join is a pure
    // function of (corpus, threshold), and at 1000× it was the suite's
    // top cost center (409.5 s cold / 156.8 s warm) re-paid per JVM even
    // though the shingle-rank input was already shared. The threshold and
    // the ppjoin derivation version are baked into the content key, so
    // retuning rebuilds instead of silently serving pairs at the old cut.
    "d05_ngram_jaccard_pairs" -> ((s, d) => jaccardPairsPersisted(s, d)),

    // MinHash+LSH: banded candidates → exact-Jaccard verification.
    "d06_minhash_lsh_pairs" -> ((s, d) => neardupPairs(s, d)),

    // SimHash 64-bit fingerprints (4 × 16-bit bands, tf-weighted md5 bits)
    // — the persisted per-corpus kernel table; d07 IS the table.
    "d07_simhash" -> ((s, d) => simhashesOf(s, d)),

    // SimHash near-dup: band-equality candidates, hamming ≤ radius. The
    // band self-join CARRIES all four band values, so the hamming verify
    // runs as an inline join filter in the same codegen stage — the
    // ~N²/2¹⁶-per-band candidate stream (10⁸⁺ rows at the 1000× corpus)
    // is never materialized, never DISTINCTed, and never re-joined to the
    // fingerprint table; only the radius-passing pairs reach the DISTINCT.
    // The relational three-shuffle shape this replaces is what ENOSPC'd
    // the first fifth-decade run (SCALE.md round 9); the ORACLE still runs
    // it as the independent re-derivation.
    "d08_simhash_pairs" -> ((s, d) => {
      simhashesOf(s, d).createOrReplaceTempView("simhashes")
      val ham = "bit_count(a.b0 ^ b.b0) + bit_count(a.b1 ^ b.b1) + " +
        "bit_count(a.b2 ^ b.b2) + bit_count(a.b3 ^ b.b3)"
      s.sql(
        s"""WITH bands AS (
           |  SELECT doc_id, band, CASE band WHEN 0 THEN b0 WHEN 1 THEN b1
           |         WHEN 2 THEN b2 ELSE b3 END AS bval, b0, b1, b2, b3
           |  FROM simhashes
           |  LATERAL VIEW explode(array(0, 1, 2, 3)) t AS band)
           |SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb,
           |  CAST($ham AS INT) AS hamming
           |FROM bands a JOIN bands b
           |  ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
           |WHERE $ham <= $HammingRadius
           |""".stripMargin)
    }),

    // Near-dup cluster canonicalization: connected components over the
    // verified MinHash pair graph, each doc mapped to its component's min
    // doc_id (the "keep one per near-dup cluster" op a training pipeline
    // ends with). Min-label propagation iterated to FIXPOINT — exact
    // components, matching the oracle's recursive closure. Near-dup
    // clusters are small by construction, so iterations ≈ cluster
    // diameter; at web scale swap in alternating large-star/small-star,
    // same per-iteration plan shape (join + min-aggregate).
    "d10_neardup_clusters" -> ((s, d) => {
      // clustering over the persisted verified pair set (= d06's table):
      // the definition of this query IS "components of the near-dup
      // graph", so the shared export makes the relationship literal
      val pairs = neardupPairs(s, d).select("ida", "idb")
      // Cluster ONLY the near-dup subgraph: docs that appear in some edge.
      // Singletons — the overwhelming majority of any deduped corpus — skip
      // clustering entirely and re-enter as their own cluster at the end.
      // [[graft.operators.ConnectedComponents]] picks the physical strategy
      // from the measured edge count: bounded driver union-find for small
      // subgraphs (the test-SF and most-production case), distributed
      // large-star/small-star (O(log n) rounds) above the broadcast-sized
      // bound — both value-identical min-label components.
      val nodes = pairs.select(col("ida").as("doc_id"))
        .unionByName(pairs.select(col("idb").as("doc_id"))).distinct().cache()
      val labels = graft.operators.ConnectedComponents.minLabels(pairs)
      documents(s, d).select(col("doc_id"))
        .join(nodes, Seq("doc_id"), "left_anti")
        .withColumn("label", col("doc_id"))
        .unionByName(labels)
        .groupBy(col("label").as("canonical_id"))
        .agg(count(lit(1)).as("cluster_size"),
          sort_array(collect_list(col("doc_id"))).as("m"))
        .select(col("canonical_id"), col("cluster_size"),
          expr("concat_ws(',', transform(m, x -> CAST(x AS STRING)))").as("members"))
    }),

    // TF-IDF top terms: per-document top-3 keywords by tf·idf, the
    // classic relevance signal (and the shape of any per-doc keyword
    // extraction at scale: one token explode, one df aggregate, one
    // join on term, one per-doc window). Corpus size N enters as a SCALAR
    // SUBQUERY — one value computed once — not a cross join.
    "d11_tfidf_terms" -> ((s, d) => {
      documents(s, d).createOrReplaceTempView("documents")
      s.sql(
        """WITH tf AS (
          |  SELECT doc_id, t, count(*) AS tf
          |  FROM (SELECT doc_id, explode(split(text, ' ')) AS t FROM documents) x
          |  GROUP BY doc_id, t),
          |df AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
          |scored AS (
          |  SELECT doc_id, t,
          |    round(tf * ln(CAST((SELECT count(*) FROM documents) AS DOUBLE) / df.df), 6) AS tfidf
          |  FROM tf JOIN df USING (t))
          |SELECT doc_id, rnk, t AS term, tfidf FROM (
          |  SELECT doc_id, t, tfidf,
          |    row_number() OVER (PARTITION BY doc_id
          |      ORDER BY tfidf DESC, t ASC) AS rnk
          |  FROM scored) r
          |WHERE rnk <= 3""".stripMargin)
    }),

    // Repetition scoring (the Gopher/MassiveText quality signal): fraction
    // of word-bigram occurrences that are repeats of an earlier bigram in
    // the same doc. Round 11: a doc's bigram multiset never leaves its
    // row, so both outputs are per-ROW array expressions — n_bigrams =
    // size(w)−1 and n_distinct = size(array_distinct(grams)) — and the
    // whole query is a zero-shuffle map pass. The original explode +
    // groupBy(doc_id, count(DISTINCT g)) pushed the ~2.5×10⁹-bigram
    // stream (wide strings) through a per-doc exchange at the 1000×
    // corpus (47.2 s isolated) for an aggregation whose groups were
    // already colocated by construction. Dense spread: the
    // array_distinct pass is row-sized CPU work, same contract as d09.
    "d12_repetition_score" -> ((s, d) => {
      documentsDense(s, d).createOrReplaceTempView("documents")
      s.sql(
        """SELECT doc_id,
          |  CAST(size(w) - 1 AS BIGINT) AS n_bigrams,
          |  CAST(size(array_distinct(grams)) AS BIGINT) AS n_distinct,
          |  round(1.0 - size(array_distinct(grams))
          |    / CAST(size(w) - 1 AS DOUBLE), 6) AS dup_fraction
          |FROM (
          |  SELECT doc_id, w,
          |    transform(sequence(1, size(w) - 1), i -> concat_ws(' ',
          |      element_at(w, i), element_at(w, i + 1))) AS grams
          |  FROM (SELECT doc_id, split(text, ' ') AS w FROM documents) x
          |  WHERE size(w) >= 2) g""".stripMargin)
    }),

    // Quality-quantile filter: keep documents at or above the corpus's
    // 10th-percentile quality score — the "drop the worst decile" cut a
    // training pipeline applies after d03. The threshold is a scalar
    // subquery: computed once, reused for the filter and the output column
    // (Spark plans a ReusedSubquery, no join of any kind).
    "d13_quality_filter" -> ((s, d) => {
      documents(s, d).createOrReplaceTempView("documents")
      s.sql(
        """WITH scored AS (
          |  SELECT doc_id,
          |    round(least(nt / 100.0, 1.0) * 0.4 + (nd / nt) * 0.3 + (ns / nt) * 0.3, 6) AS quality_score
          |  FROM (SELECT doc_id,
          |    CAST(size(split(text, ' ')) AS DOUBLE) AS nt,
          |    CAST(size(array_distinct(split(text, ' '))) AS DOUBLE) AS nd,
          |    CAST(size(filter(split(text, ' '),
          |      x -> x IN ('the','a','of','and','in','to','is'))) AS DOUBLE) AS ns
          |  FROM documents) t)
          |SELECT doc_id, quality_score,
          |  (SELECT round(percentile(quality_score, 0.10), 6) FROM scored) AS threshold
          |FROM scored
          |WHERE quality_score >=
          |  (SELECT round(percentile(quality_score, 0.10), 6) FROM scored)""".stripMargin)
    }),

    // KMV (k-minimum-values) distinct-count sketch: per-language shingle
    // cardinality (the number that sizes a MinHash-LSH run) estimated from
    // the k smallest md5(shingle) values — est = (k-1) / fraction(kth_min).
    // Unlike HLL (whose register layout is engine-private), KMV over md5 is
    // BIT-DETERMINISTIC, so the approximate answer itself gets a
    // value-level oracle; the exact distinct count rides along to show the
    // estimation error (~1/√k). Sketch building is one distinct-aggregate
    // then a per-group top-k — mergeable across partitions, the standard
    // sketch shape.
    // Spark plan (round 11 — SCALE.md "d14's 232.9 s decomposed and cut"
    // split the fifth-decade cost: narrow explode+md5 13.9 s, global
    // distinct 74 s, per-lang window rank over ALL 108 M distinct hashes
    // ~145 s): the kth-minimum
    // of a UNIFORM hash column doesn't need a full rank — every value at
    // rank ≤ k has fraction(h) below ~k/n, so a narrow prefilter at
    // 8·k/n keeps the kth min with certainty-for-all-practical-purposes
    // (survivors ~ Binomial(n, 8k/n), mean 8k = 512; P(< k) < e^-300 by
    // Chernoff — below hardware-error rates) and the window ranks ~512
    // rows per lang instead of tens of millions. Langs where n ≤ 8k take
    // no filter at all, so small corpora are EXACT by construction, not by
    // probability. The one irreducible shuffle left is the per-lang exact
    // distinct count (an output column) — paid on 16-byte unhex(md5)
    // binary, not the 32-char hex string. The sketch (5 rows) persists per
    // (corpus, k) like the fingerprint family: a KMV sketch is exactly
    // the once-per-corpus artifact a real pipeline materializes.
    "d14_vocab_kmv_sketch" -> ((s, d) =>
      s.read.parquet(CawdExport.write(s, d, "kmv_sketch",
        Some(fpCorpusKey(s, d) + s":kmv:k=$KmvK:v2")) { out =>
          documents(s, d).createOrReplaceTempView("documents")
          val rawSql =
            s"""SELECT lang, md5(s) AS h
               |  FROM (SELECT lang, explode($shingleExpr) AS s
               |        FROM (SELECT lang, split(text, ' ') AS w FROM documents) ww) x"""
              .stripMargin
          // The exact per-lang distinct count is the one irreducible
          // shuffle (it is an output column) — run it ONCE and inline the
          // ≤#langs result rows as a VALUES literal: as a CTE it was
          // referenced by both the candidate filter and the kth-row
          // lookup, and Spark inlines CTEs, so the 74 s count-distinct
          // subtree executed TWICE (measured: 257 s cold at 1000×, worse
          // than the windowed original). The collect is bounded by lang
          // cardinality (single digits), the same bounded-collect pattern
          // as the streaming probe cap.
          val counts = s.sql(
            s"""SELECT lang, count(DISTINCT unhex(h)) AS n
               |FROM ($rawSql) raw GROUP BY lang""".stripMargin).collect()
          (if (counts.isEmpty)
            s.sql("SELECT '' AS lang, CAST(0 AS BIGINT) AS exact_distinct, " +
              "CAST(0 AS BIGINT) AS kmv_estimate WHERE false")
          else {
            // re-inject the collected rows as a LocalRelation temp view, not
            // a spliced VALUES literal: string-quoting by hand NPE'd on a
            // NULL lang and mishandled escapes (round-11 advice); a local
            // DataFrame round-trips any lang value (including NULL, which
            // the join below then drops exactly as SQL equality semantics
            // require) and still broadcasts as ≤#langs literal rows.
            import s.implicits._
            s.createDataset(counts.toSeq.map(r =>
                (if (r.isNullAt(0)) null else r.getString(0), r.getLong(1))))
              .toDF("lang", "exact_distinct")
              .createOrReplaceTempView("kmv_counts")
            s.sql(
              s"""WITH counts AS (SELECT lang, exact_distinct FROM kmv_counts),
                 |raw AS ($rawSql),
                 |cand AS (
                 |  SELECT DISTINCT r.lang, r.h
                 |  FROM raw r JOIN counts c ON r.lang <=> c.lang
                 |  WHERE c.exact_distinct <= ${8 * KmvK}
                 |    OR ${hexFractionSql("r.h", "instr")} <
                 |       CAST(${8 * KmvK} AS DOUBLE) / c.exact_distinct),
                 |ranked AS (
                 |  SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS r
                 |  FROM cand),
                 |kth AS (SELECT k.lang, k.h AS kth_h, c.exact_distinct
                 |        FROM ranked k JOIN counts c ON k.lang <=> c.lang
                 |        WHERE k.r = least($KmvK, c.exact_distinct))
                 |SELECT lang, exact_distinct,
                 |  CASE WHEN exact_distinct < $KmvK THEN exact_distinct
                 |    ELSE CAST(round(($KmvK - 1) / ${hexFractionSql("kth_h", "instr")}, 0)
                 |      AS BIGINT) END AS kmv_estimate
                 |FROM kth""".stripMargin)
          }).write.parquet(out)
        })),

    // Decontamination (benchmark-overlap detection): flag every training
    // doc sharing at least one 5-token shingle with the held-out source
    // ('src0' plays the benchmark set). The standard n-gram-collision
    // hygiene step before training. Round 11: the original shape ran the
    // corpus-sized shingle stream through a DISTINCT exchange BEFORE any
    // pruning — ~10⁹ (doc_id, source, s5) rows shuffled at the 1000×
    // corpus, 194 s, and linear-in-corpus shuffle forever. It now runs
    // d17's 100 TB shape with d15's per-doc output: the persisted bench
    // bloom prefilters the raw shingle stream as a NARROW codegen'd
    // bit-test (no exchange), and only the surviving ~0.1% pays the exact
    // semi-join + per-doc distinct count. Blooms have no false negatives
    // and the semi-join removes false positives, so the answer is
    // IDENTICAL to the exact inverted-index join the oracle still runs.
    "d15_decontamination" -> ((s, d) => {
      val ex = documentsDense(s, d)
        .select(col("doc_id"), col("source"), split(col("text"), " ").as("w"))
        .select(col("doc_id"), col("source"), explode(expr(shingle5Expr)).as("s5"))
      val bench = benchShingles(s, d)
      val bloomBytes = benchBloomBytes(s, d)
      ex.filter(col("source") =!= "src0")
        .filter(call_function("graft_might_contain",
          lit(bloomBytes), xxhash64(col("s5"))))
        .join(bench, Seq("s5"), "left_semi")
        .dropDuplicates("doc_id", "s5")
        .groupBy(col("doc_id"), col("source"))
        .agg(count(lit(1)).as("n_shared_shingles"))
    }),

    // Bloom-prefiltered decontamination: d15's semi-join re-expressed in
    // the 100 TB shape. The benchmark shingle set compiles into a broadcast
    // Bloom filter (a few MB for millions of shingles at 3% fpp); training
    // shingles stream through the bit-test as a NARROW filter — no shuffle
    // of the corpus-sized shingle stream — and only the tiny surviving
    // fraction pays the exact broadcast semi-join that removes false
    // positives. Bloom filters have no false negatives, so the result is
    // IDENTICAL to the exact join and the approximate structure still gets
    // a value-level oracle.
    "d17_bloom_decontamination" -> ((s, d) => {
      val ex = documentsDense(s, d)
        .select(col("doc_id"), col("source"), split(col("text"), " ").as("w"))
        .select(col("doc_id"), col("source"), explode(expr(shingle5Expr)).as("s5"))
      val bench = benchShingles(s, d)
      val bloomBytes = benchBloomBytes(s, d)
      ex.filter(col("source") =!= "src0")
        // bloom prefilter: narrow, no shuffle, codegen'd bit-test
        .filter(call_function("graft_might_contain",
          lit(bloomBytes), xxhash64(col("s5"))))
        // exact FP removal. NO broadcast hint: the benchmark shingle set
        // grows with the benchmark (15 M rows / ~1 GB at 10× — a forced
        // broadcast cost 54 s rebuilding a giant hash table per task,
        // defeating the bloom). Post-bloom the corpus side is only true
        // hits + ~3% FPs, so AQE broadcasts whichever side is actually
        // small and shuffles otherwise — the 10⁹-doc shape.
        .join(bench, Seq("s5"), "left_semi")
        .dropDuplicates("doc_id", "s5")           // only survivors reach the shuffle
        .groupBy("source").agg(
          countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_hits"),
          countDistinct(col("s5")).as("n_distinct_shingles"))
    }),

    // Deterministic source-weighted Bernoulli sampling (domain
    // reweighting): keep a doc iff fraction(md5(doc_id)) < rate(source) —
    // rate 1.0 for even-numbered sources, 0.25 for odd. A pure narrow
    // projection + filter: ZERO shuffles at any scale (rank-based
    // balancing like m05 pays a per-group sort), and the hash threshold is
    // reproducible across engines, so the sample membership itself is
    // value-checked.
    "d18_weighted_sample" -> ((s, d) => {
      documents(s, d).createOrReplaceTempView("documents")
      s.sql(
        s"""WITH h AS (SELECT doc_id, source,
           |    CAST(substr(source, 4) AS INT) AS si,
           |    md5(CAST(doc_id AS STRING)) AS hh FROM documents),
           |u AS (SELECT doc_id, source, si,
           |    ${hexFractionSql("hh", "instr")} AS u FROM h)
           |SELECT doc_id, source, u,
           |  CAST(CASE WHEN si % 2 = 0 THEN 1.0 ELSE 0.25 END AS DOUBLE) AS rate
           |FROM u
           |WHERE u < CASE WHEN si % 2 = 0 THEN 1.0 ELSE 0.25 END""".stripMargin)
    }),

    // Unicode normalization (NFC) via the native [[graft.functions.NfcNormalize]]
    // expression — codegen'd, no UDF boundary. The corpus is ASCII, so the
    // query first decorates it with decomposed accents ('a' + U+0301) to make
    // composition observable; DuckDB's built-in nfc_normalize re-derives the
    // same lengths and hashes independently.
    "d19_text_normalize" -> ((s, d) => {
      // spread for the same reason as d09: the NFC kernel's width must
      // come from rows, not the single-row-group scan (round 9)
      documentsDense(s, d).createOrReplaceTempView("documents")
      s.sql(normalizeSql)
    }),

    // PII redaction: email/phone scrub with per-doc counts. Deterministic
    // contact strings are injected from doc fields (the corpus itself is
    // synthetic words), then both engines count and redact with the same
    // RE2-and-Java-compatible patterns. Pure per-row projection — the
    // at-scale shape is a map-only pass, no shuffle.
    "d20_pii_redact" -> ((s, d) => {
      // spread: the regex scrub is a dense per-byte pass (measured 14.2 s
      // single-row-group vs ~1.5 s spread at 100×) — same contract as the
      // named kernels even though the kernel here is a Spark builtin
      documentsDense(s, d).createOrReplaceTempView("documents")
      s.sql(piiRedactSql(spark = true))
    }),

    // Sequence packing: each doc explodes into fixed 32-token windows with
    // stride 24 (8-token overlap) — the chunking step that turns documents
    // into training sequences. Pure per-doc explode + narrow projection; the
    // window hash makes every packed sequence value-checkable.
    "d16_sequence_packing" -> ((s, d) => {
      documents(s, d).createOrReplaceTempView("documents")
      s.sql(
        """WITH toks AS (SELECT doc_id, split(text, ' ') AS w FROM documents),
          |wins AS (
          |  SELECT doc_id, i,
          |    concat_ws(' ', slice(w, CAST(i AS INT), 32)) AS chunk_text,
          |    size(slice(w, CAST(i AS INT), 32)) AS n_tokens
          |  FROM toks
          |  LATERAL VIEW explode(sequence(1, size(w), 24)) t AS i)
          |SELECT doc_id, CAST((i - 1) / 24 AS INT) AS chunk_idx, n_tokens,
          |       md5(chunk_text) AS chunk_hash
          |FROM wins""".stripMargin)
    }),

    // Span-level dedup (the C4/RefinedWeb "line dedup" pass; this corpus
    // has no newlines, so a "line" is a non-overlapping 10-token span):
    // every span occurrence except the GLOBAL first (smallest (doc_id,
    // pos)) is removed, including repeats inside one document, and each
    // doc's surviving spans reassemble in order. First-occurrence is a
    // hash-aggregate min(struct(doc_id, pos)) — map-side-combinable and
    // skew-safe (a boilerplate span shared by 10⁷ docs partial-aggregates
    // per partition; a window over h would buffer it in one task).
    // Reassembly sorts only WITHIN each doc (collect_list + array_sort —
    // doc-sized, never corpus-sized).
    "d21_line_dedup" -> ((s, d) => {
      documents(s, d).createOrReplaceTempView("documents")
      val chunks = s.sql(
        """SELECT doc_id, pos, chunk, md5(chunk) AS h FROM (
          |  SELECT doc_id, i AS pos,
          |    concat_ws(' ', slice(w, CAST(i * 10 + 1 AS INT), 10)) AS chunk
          |  FROM (SELECT doc_id, split(text, ' ') AS w FROM documents) t
          |  LATERAL VIEW explode(
          |    sequence(0, CAST(ceil(size(w) / 10.0) AS BIGINT) - 1)) x AS i) c
          |""".stripMargin)
        .cache() // totals + first-occurrence + kept sides
      val firsts = chunks.groupBy("h")
        .agg(min(struct(col("doc_id"), col("pos"))).as("f"))
        .select(col("h"), col("f.doc_id").as("kd"), col("f.pos").as("kp"))
      val kept = chunks.join(firsts, Seq("h"))
        .filter(col("doc_id") === col("kd") && col("pos") === col("kp"))
      val perDoc = kept.groupBy("doc_id").agg(
        count(lit(1)).as("n_kept"),
        concat_ws(" ", expr(
          "transform(array_sort(collect_list(struct(pos, chunk))), x -> x.chunk)"))
          .as("kept_text"))
      chunks.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_chunks"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          md5(coalesce(col("kept_text"), lit(""))).as("kept_hash"))
    }),

    // Fuzzy dedup with EDIT-DISTANCE verification: MinHash-banded candidate
    // pairs (never all-pairs) re-scored by levenshtein similarity
    // 1 - dist/max(len) — the verification metric fuzzy URL/title dedup
    // pipelines use where token-set Jaccard is too coarse (it ignores
    // order). levenshtein is a native codegen'd expression in Spark and a
    // built-in in DuckDB, so the whole query is value-verifiable. The DP is
    // O(len²) per pair but runs ONLY on LSH candidates; at 100 TB cap the
    // compared prefix or switch to a bit-parallel Myers kernel.
    //
    // SHELF TRIGGER for the Myers kernel (pins the premise the shelf
    // decision rests on — round 12, SCALE.md "Next cost tier attributed"):
    // the banded-DP term is
    //   cells ≈ pairs × k × avg_len,  k = floor((1−t)·avg_len)+1,
    // and runs at ~1×10⁹ cells/s on this 32-thread box (339 638 pairs ×
    // 113 × 562 ≈ 2.1×10¹⁰ cells = 21 s measured). It scales with the LSH
    // CANDIDATE COUNT (near-dup rate), not corpus size: the fifth-decade
    // rate is ~0.068 pairs/doc. REVISIT Myers when a corpus pushes the
    // rate past ~0.2 pairs/doc (3× reference) or projected cells past
    // ~1×10¹¹ (~100 s/run) — Myers' 64-bit word parallelism cuts the
    // per-cell constant ~10-20× on texts this long, and nothing else
    // about the query changes (same candidates, same verify filter).
    "d22_editdist_pairs" -> ((s, d) => {
      val df = documents(s, d)
      // shared per-corpus fingerprint table: round-7 attribution (SCALE.md
      // "d22 decomposition at 100×") put ~80% of d22's 100× cost in
      // minhash GENERATION that d06 was recomputing identically — both
      // now read [[minhashBandsOf]]
      val bands = minhashBandsOf(s, d)
      val cands = bands.as("a")
        .join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("ida"), col("b.doc_id").as("idb")).distinct()
      val texts = df.select(col("doc_id"), col("text"))
      // Bounded levenshtein: a kept pair needs sim ≥ t ⇔ dist ≤ (1−t)·maxlen,
      // so the DP runs Spark's banded threshold form — O(k·n) instead of
      // O(n·m), k = floor((1−t)·maxlen)+1 (the +1 absorbs the 6-dp rounding
      // slop at the boundary). Pairs beyond the band return -1 and are
      // dropped — exactly the rows the sim filter discards anyway, so the
      // result is identical to the oracle's full-DP re-derivation, which
      // deliberately stays unbounded as the independent check.
      cands
        .join(texts.as("ta"), col("ida") === col("ta.doc_id"))
        .join(texts.as("tb"), col("idb") === col("tb.doc_id"))
        .select(col("ida"), col("idb"),
          expr(s"""levenshtein(ta.text, tb.text, CAST(floor(
                  |  (1.0 - $EditSimThreshold) *
                  |  greatest(length(ta.text), length(tb.text))) AS INT) + 1)"""
            .stripMargin).as("bdist"),
          greatest(length(col("ta.text")), length(col("tb.text"))).as("maxlen"))
        .filter(col("bdist") >= 0)
        .select(col("ida"), col("idb"),
          col("bdist").cast("long").as("edit_dist"),
          round(lit(1.0) - col("bdist").cast("double") / col("maxlen"), 6)
            .as("edit_sim"))
        .filter(col("edit_sim") >= EditSimThreshold)
    }),

    // Deterministic stratified train/val/test split: each doc hashes to a
    // bit-identical (0,1) fraction (same md5 arithmetic in both engines) and
    // lands in 80/10/10 bands. Pure per-row projection — zero shuffle, no
    // coordination, reproducible under reruns/backfills at any scale; the
    // hash keys on (source, doc_id) so the split is stratified per source
    // and stable when new sources arrive.
    "d23_train_val_split" -> ((s, d) => {
      documents(s, d).createOrReplaceTempView("documents")
      s.sql(
        s"""WITH keyed AS (
           |  SELECT doc_id, source,
           |    md5(concat(source, ':', CAST(doc_id AS STRING))) AS h
           |  FROM documents),
           |frac AS (SELECT doc_id, source,
           |  ${hexFractionSql("h", "instr")} AS f FROM keyed)
           |SELECT doc_id, source, round(f, 6) AS split_key,
           |  CASE WHEN f < 0.8 THEN 'train'
           |       WHEN f < 0.9 THEN 'val' ELSE 'test' END AS split
           |FROM frac""".stripMargin)
    }),

    // BM25 top-k retrieval: score the corpus against a fixed query-term set
    // with full BM25 (k1 = 1.2, b = 0.75), take the global top 20. The
    // term-filtered tf table only contains docs sharing a query term, the
    // corpus stats (N, avgdl) are a one-row broadcast, and the final top-k
    // is an orderBy+limit Spark plans as TakeOrderedAndProject (per-
    // partition heaps + driver merge — never a global sort).
    "d24_bm25_topk" -> ((s, d) => {
      documents(s, d).createOrReplaceTempView("documents")
      s.sql(bm25Sql(spark = true))
    }),

    // Tokenizer vocabulary build: top-N tokens by frequency with stable
    // contiguous ids (count desc, token asc). The global ORDER BY + LIMIT
    // plans as TakeOrderedAndProject (per-partition heaps + driver merge),
    // and the ranking window runs over ONLY the N surviving rows — a
    // 10⁸-type raw vocabulary never passes through a single-task sort.
    "d25_vocab_topk" -> ((s, d) => {
      documents(s, d).createOrReplaceTempView("documents")
      s.sql(
        s"""WITH tok AS (SELECT explode(split(text, ' ')) AS token FROM documents),
           |counts AS (SELECT token, count(*) AS n FROM tok GROUP BY token),
           |top AS (SELECT token, n FROM counts
           |        ORDER BY n DESC, token ASC LIMIT $VocabSize)
           |SELECT token, n,
           |  row_number() OVER (ORDER BY n DESC, token ASC) AS token_id
           |FROM top""".stripMargin)
    }),

    // Winnowing fingerprints: char 8-gram md5 rolling hashes, window-4 min.
    // Winnowing is PER-DOCUMENT, so the whole computation is ONE native
    // expression ([[graft.functions.WinnowFingerprint]]) inside a narrow
    // zero-shuffle projection: no explode, no window exchange+sort (the
    // exploded formulation pushed ~60 M rows through one at 10× scale),
    // and no per-position md5-expression round trips (the array-SQL
    // formulation still paid ~len md5 calls + hex materializations per
    // doc — the suite's hottest per-byte loop). Identical values to the
    // shared SQL definition the oracle runs; a spec cross-checks the
    // expression against that formulation on random strings.
    "d09_winnow_fingerprints" -> ((s, d) => {
      // documentsDense, NOT documents (round 9): the winnow pass is the
      // suite's hottest per-byte kernel, and the raw scan's width is
      // row-group-bound — the 100× corpus is ONE 80 MB row group, so the
      // zero-shuffle form ran the whole kernel in 1-2 tasks (measured
      // 12.6 s vs ~1.3 s spread; d26 runs winnow_fp_set + explode + agg
      // over the SAME corpus in 4 s because it spreads first). The
      // rows-only exchange is noise next to the kernel it widens.
      documentsDense(s, d).createOrReplaceTempView("documents")
      s.sql(
        """SELECT doc_id, fp.n_fingerprints AS n_fingerprints,
          |       fp.min_fingerprint AS min_fingerprint
          |FROM (SELECT doc_id, winnow_fp(text) AS fp FROM documents)""".stripMargin)
    }),

    // Cross-document duplicated spans — the approximate form of exact-
    // substring dedup (Lee et al. 2021): build fingerprint POSTINGS from
    // each doc's distinct winnowing fingerprints (native `winnow_fp_set`,
    // one zero-shuffle kernel call per doc) and keep the 200 most-shared
    // fingerprints. The explode + hash-agg is the minimal inverted-index
    // shape — fingerprint keys are md5-uniform so the groupBy is
    // skew-immune, and the top-k is an orderBy+limit Spark plans as
    // TakeOrderedAndProject (per-partition heaps, never a global sort).
    // Ties break on fp (unique), so the LIMIT selects a deterministic set
    // in both engines.
    "d26_winnow_span_dups" -> ((s, d) => {
      documentsDense(s, d).createOrReplaceTempView("documents")
      // count(*), NOT count(DISTINCT doc_id): winnow_fp_set is distinct
      // per doc, so (fp, doc_id) rows are already unique and the distinct
      // form only adds an Expand + second 10⁹-row shuffle phase for the
      // same number (measured 2.5× the cost at 100×)
      s.sql(
        """WITH fps AS (
          |  SELECT doc_id, explode(winnow_fp_set(text)) AS fp FROM documents)
          |SELECT fp, count(*) AS n_docs, min(doc_id) AS first_doc
          |FROM fps GROUP BY fp HAVING count(*) >= 2
          |ORDER BY n_docs DESC, fp ASC LIMIT 200""".stripMargin)
    })
  )

  /** BM25 scoring SQL, identical semantics in both engines (k1 = 1.2,
    * b = 0.75; 2.2 = k1+1, 0.25 = 1-b): natural log (`log` in Spark, `ln`
    * in DuckDB), every count cast to DOUBLE so the divisions match, score
    * rounded BEFORE the ordering so a 1-ulp log difference can never flip
    * the top-k cut.
    */
  private def bm25Sql(spark: Boolean): String = {
    val splitFn = if (spark) "split" else "string_split"
    val explodeFn = if (spark) "explode" else "unnest"
    val lenFn = if (spark) "size" else "len"
    val lnFn = if (spark) "log" else "ln"
    val terms = "'table','scan','fast','join'"
    s"""WITH lens AS (
       |  SELECT doc_id, CAST($lenFn($splitFn(text, ' ')) AS DOUBLE) AS dl
       |  FROM documents),
       |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM lens),
       |tf AS (
       |  SELECT doc_id, t, CAST(count(*) AS DOUBLE) AS tf
       |  FROM (SELECT doc_id, $explodeFn($splitFn(text, ' ')) AS t FROM documents) x
       |  WHERE t IN ($terms) GROUP BY doc_id, t),
       |df AS (SELECT t, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY t),
       |scored AS (
       |  SELECT tf.doc_id,
       |    round(sum($lnFn(((SELECT n FROM stats) - df + 0.5) / (df + 0.5) + 1.0) *
       |      tf * 2.2 / (tf + 1.2 *
       |        (0.25 + 0.75 * dl / (SELECT avgdl FROM stats)))), 6) AS bm25
       |  FROM tf JOIN df ON tf.t = df.t
       |          JOIN lens ON tf.doc_id = lens.doc_id
       |  GROUP BY tf.doc_id)
       |SELECT doc_id, bm25 FROM scored ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin
  }

  // --- DuckDB oracles ----------------------------------------------------

  private val JaccardPairsSql =
    s"""$ShingleSqlCtes,
       |pairs AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS common
       |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2)
       |SELECT ida, idb,
       |  round(common * 1.0 / (sa.n + sb.n - common), 6) AS jaccard
       |FROM pairs JOIN sizes sa ON pairs.ida = sa.doc_id
       |           JOIN sizes sb ON pairs.idb = sb.doc_id
       |WHERE common * 1.0 / (sa.n + sb.n - common) >= $JaccardThreshold""".stripMargin

  val oracle: Map[String, String] = Map(
    "d01_exact_dedup" ->
      """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS text_hash,
        |  min(doc_id) AS canonical_id, count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,

    "d02_token_stats" ->
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  len(list_distinct(string_split(text, ' '))) AS n_distinct,
        |  len(regexp_extract_all(text, '\w+|[^\w\s]')) AS n_regex_tokens,
        |  length(text) AS n_chars,
        |  round(CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) /
        |        len(string_split(text, ' ')), 6) AS avg_token_len
        |FROM documents""".stripMargin,

    "d03_quality_score" ->
      """SELECT doc_id,
        |  round(ns / nt, 6) AS stopword_ratio,
        |  round(nd / nt, 6) AS distinct_ratio,
        |  round(least(nt / 100.0, 1.0) * 0.4 + (nd / nt) * 0.3 + (ns / nt) * 0.3, 6) AS quality_score
        |FROM (SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS DOUBLE) AS nt,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS nd,
        |  CAST(len(list_filter(string_split(text, ' '),
        |    x -> x IN ('the','a','of','and','in','to','is'))) AS DOUBLE) AS ns
        |FROM documents) t""".stripMargin,

    "d04_lang_id" ->
      """SELECT doc_id, lang AS labeled_lang, c_en, c_de, c_es,
        |  CASE WHEN c_en >= c_de AND c_en >= c_es AND c_en > 0 THEN 'en'
        |       WHEN c_de >= c_es AND c_de > 0 THEN 'de'
        |       WHEN c_es > 0 THEN 'es'
        |       ELSE 'unknown' END AS predicted_lang
        |FROM (SELECT doc_id, lang,
        |  len(list_filter(string_split(text, ' '), x -> x IN ('the','is','of','and'))) AS c_en,
        |  len(list_filter(string_split(text, ' '), x -> x IN ('der','die','und','ist'))) AS c_de,
        |  len(list_filter(string_split(text, ' '), x -> x IN ('el','la','que','es'))) AS c_es
        |FROM documents) t""".stripMargin,

    "d05_ngram_jaccard_pairs" -> JaccardPairsSql,

    "d21_line_dedup" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |ch AS (
        |  SELECT doc_id, i AS pos,
        |    array_to_string(w[CAST(i*10+1 AS BIGINT):CAST(i*10+10 AS BIGINT)], ' ') AS chunk,
        |    md5(array_to_string(w[CAST(i*10+1 AS BIGINT):CAST(i*10+10 AS BIGINT)], ' ')) AS h
        |  FROM toks, UNNEST(range(0, CAST(ceil(len(w) / 10.0) AS BIGINT))) AS t(i)),
        |firsts AS (
        |  SELECT h, doc_id AS kd, pos AS kp FROM (
        |    SELECT h, doc_id, pos,
        |      row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
        |    FROM ch) r WHERE rn = 1),
        |kept AS (
        |  SELECT ch.doc_id, ch.pos, ch.chunk
        |  FROM ch JOIN firsts ON ch.h = firsts.h
        |    AND ch.doc_id = firsts.kd AND ch.pos = firsts.kp),
        |perdoc AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |    string_agg(chunk, ' ' ORDER BY pos) AS kept_text
        |  FROM kept GROUP BY doc_id),
        |tot AS (SELECT doc_id, count(*) AS n_chunks FROM ch GROUP BY doc_id)
        |SELECT t.doc_id, t.n_chunks, coalesce(p.n_kept, 0) AS n_kept,
        |  md5(coalesce(p.kept_text, '')) AS kept_hash
        |FROM tot t LEFT JOIN perdoc p ON t.doc_id = p.doc_id""".stripMargin,

    "d23_train_val_split" ->
      s"""WITH keyed AS (
         |  SELECT doc_id, source,
         |    md5(concat(source, ':', CAST(doc_id AS VARCHAR))) AS h
         |  FROM documents),
         |frac AS (SELECT doc_id, source,
         |  ${hexFractionSql("h", "strpos")} AS f FROM keyed)
         |SELECT doc_id, source, round(f, 6) AS split_key,
         |  CASE WHEN f < 0.8 THEN 'train'
         |       WHEN f < 0.9 THEN 'val' ELSE 'test' END AS split
         |FROM frac""".stripMargin,

    "d24_bm25_topk" -> bm25Sql(spark = false),

    "d25_vocab_topk" ->
      s"""WITH tok AS (
         |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
         |counts AS (SELECT token, count(*) AS n FROM tok GROUP BY token),
         |top AS (SELECT token, n FROM counts
         |        ORDER BY n DESC, token ASC LIMIT $VocabSize)
         |SELECT token, n,
         |  row_number() OVER (ORDER BY n DESC, token ASC) AS token_id
         |FROM top""".stripMargin,

    "d22_editdist_pairs" ->
      s"""$ShingleSqlCtes,
         |$minhashBandCtes,
         |cand AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
         |         FROM bands a JOIN bands b ON a.band = b.band
         |           AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |scored AS (
         |  SELECT ida, idb,
         |    CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS edit_dist,
         |    round(1.0 - CAST(levenshtein(ta.text, tb.text) AS DOUBLE) /
         |      greatest(length(ta.text), length(tb.text)), 6) AS edit_sim
         |  FROM cand JOIN documents ta ON cand.ida = ta.doc_id
         |            JOIN documents tb ON cand.idb = tb.doc_id)
         |SELECT ida, idb, edit_dist, edit_sim
         |FROM scored WHERE edit_sim >= $EditSimThreshold""".stripMargin,

    "d06_minhash_lsh_pairs" ->
      s"""$ShingleSqlCtes,
         |$minhashBandCtes,
         |cand AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
         |         FROM bands a JOIN bands b ON a.band = b.band
         |           AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |pairs AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS common
         |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |          JOIN cand ON cand.ida = a.doc_id AND cand.idb = b.doc_id
         |          GROUP BY 1, 2)
         |SELECT ida, idb,
         |  round(common * 1.0 / (sa.n + sb.n - common), 6) AS jaccard
         |FROM pairs JOIN sizes sa ON pairs.ida = sa.doc_id
         |           JOIN sizes sb ON pairs.idb = sb.doc_id
         |WHERE common * 1.0 / (sa.n + sb.n - common) >= $JaccardThreshold""".stripMargin,

    "d10_neardup_clusters" ->
      s"""${ShingleSqlCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |$minhashBandCtes,
         |cand AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
         |         FROM bands a JOIN bands b ON a.band = b.band
         |           AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |pairs AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS common
         |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |          JOIN cand ON cand.ida = a.doc_id AND cand.idb = b.doc_id
         |          GROUP BY 1, 2),
         |vpairs AS (SELECT ida, idb FROM pairs
         |           JOIN sizes sa ON pairs.ida = sa.doc_id
         |           JOIN sizes sb ON pairs.idb = sb.doc_id
         |           WHERE common * 1.0 / (sa.n + sb.n - common) >= $JaccardThreshold),
         |edges AS (SELECT ida AS src, idb AS dst FROM vpairs
         |          UNION ALL SELECT idb, ida FROM vpairs),
         |reach(a, b) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
         |labels AS (SELECT a AS doc_id, min(b) AS canonical_id FROM reach GROUP BY a)
         |SELECT canonical_id, count(*) AS cluster_size,
         |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS members
         |FROM labels GROUP BY canonical_id""".stripMargin,

    "d07_simhash" -> simhashSql(spark = false),

    "d08_simhash_pairs" ->
      s"""WITH sim AS (${simhashSql(spark = false)}),
         |bands AS (
         |  SELECT doc_id, band,
         |    CASE band WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2 ELSE b3 END AS bval
         |  FROM sim, UNNEST([0, 1, 2, 3]) AS t(band)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id)
         |SELECT ida, idb,
         |  CAST(bit_count(xor(sa.b0, sb.b0)) + bit_count(xor(sa.b1, sb.b1)) +
         |       bit_count(xor(sa.b2, sb.b2)) + bit_count(xor(sa.b3, sb.b3)) AS INT) AS hamming
         |FROM cand JOIN sim sa ON cand.ida = sa.doc_id
         |          JOIN sim sb ON cand.idb = sb.doc_id
         |WHERE bit_count(xor(sa.b0, sb.b0)) + bit_count(xor(sa.b1, sb.b1)) +
         |      bit_count(xor(sa.b2, sb.b2)) + bit_count(xor(sa.b3, sb.b3)) <= $HammingRadius""".stripMargin,

    "d11_tfidf_terms" ->
      """WITH tf AS (
        |  SELECT doc_id, t, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents) x
        |  GROUP BY doc_id, t),
        |df AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (
        |  SELECT doc_id, t,
        |    round(tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) AS tfidf
        |  FROM tf JOIN df USING (t) CROSS JOIN n)
        |SELECT doc_id, rnk, t AS term, tfidf FROM (
        |  SELECT doc_id, t, tfidf,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY tfidf DESC, t ASC) AS rnk
        |  FROM scored) r
        |WHERE rnk <= 3""".stripMargin,

    "d12_repetition_score" ->
      """WITH grams AS (
        |  SELECT doc_id, w[i] || ' ' || w[i + 1] AS g
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) x,
        |       UNNEST(range(1, len(w))) AS t(i)
        |  WHERE len(w) >= 2)
        |SELECT doc_id,
        |  count(*) AS n_bigrams,
        |  count(DISTINCT g) AS n_distinct,
        |  round(1.0 - count(DISTINCT g) / CAST(count(*) AS DOUBLE), 6) AS dup_fraction
        |FROM grams GROUP BY doc_id""".stripMargin,

    "d13_quality_filter" ->
      """WITH scored AS (
        |  SELECT doc_id,
        |    round(least(nt / 100.0, 1.0) * 0.4 + (nd / nt) * 0.3 + (ns / nt) * 0.3, 6) AS quality_score
        |  FROM (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS nt,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS nd,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      x -> x IN ('the','a','of','and','in','to','is'))) AS DOUBLE) AS ns
        |  FROM documents) t)
        |SELECT doc_id, quality_score,
        |  (SELECT round(quantile_cont(quality_score, 0.10), 6) FROM scored) AS threshold
        |FROM scored
        |WHERE quality_score >=
        |  (SELECT round(quantile_cont(quality_score, 0.10), 6) FROM scored)""".stripMargin,

    "d14_vocab_kmv_sketch" ->
      s"""WITH toks AS (SELECT lang, string_split(text, ' ') AS w FROM documents),
         |sh AS (SELECT DISTINCT lang, md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS h
         |       FROM toks, UNNEST(range(1, len(w)-1)) AS g(i)),
         |ranked AS (
         |  SELECT lang, h,
         |    row_number() OVER (PARTITION BY lang ORDER BY h) AS r,
         |    count(*) OVER (PARTITION BY lang) AS exact_distinct
         |  FROM sh),
         |kth AS (SELECT lang, h AS kth_h, exact_distinct FROM ranked
         |        WHERE r = least($KmvK, exact_distinct))
         |SELECT lang, exact_distinct,
         |  CASE WHEN exact_distinct < $KmvK THEN exact_distinct
         |    ELSE CAST(round(($KmvK - 1) / ${hexFractionSql("kth_h", "strpos")}, 0)
         |      AS BIGINT) END AS kmv_estimate
         |FROM kth""".stripMargin,

    "d15_decontamination" ->
      """WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, source,
        |         w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] AS s
        |       FROM toks, UNNEST(range(1, len(w)-3)) AS g(i)),
        |bench AS (SELECT DISTINCT s FROM sh WHERE source = 'src0')
        |SELECT doc_id, source, count(*) AS n_shared_shingles
        |FROM sh JOIN bench USING (s)
        |WHERE source <> 'src0'
        |GROUP BY doc_id, source""".stripMargin,

    // exact equivalent of the bloom-prefiltered pipeline (no false negatives
    // + exact verify ⇒ bloom changes cost, never the answer)
    "d17_bloom_decontamination" ->
      """WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, source,
        |         w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] AS s5
        |       FROM toks, UNNEST(range(1, len(w)-3)) AS g(i)),
        |bench AS (SELECT DISTINCT s5 FROM sh WHERE source = 'src0')
        |SELECT source, count(DISTINCT doc_id) AS n_docs, count(*) AS n_hits,
        |       count(DISTINCT s5) AS n_distinct_shingles
        |FROM sh JOIN bench USING (s5)
        |WHERE source <> 'src0'
        |GROUP BY source""".stripMargin,

    "d19_text_normalize" -> normalizeSql,

    "d20_pii_redact" -> piiRedactSql(spark = false),

    "d18_weighted_sample" ->
      s"""WITH h AS (SELECT doc_id, source,
         |    CAST(substr(source, 4) AS INT) AS si,
         |    md5(CAST(doc_id AS VARCHAR)) AS hh FROM documents),
         |u AS (SELECT doc_id, source, si,
         |    ${hexFractionSql("hh", "strpos")} AS u FROM h)
         |SELECT doc_id, source, u,
         |  CAST(CASE WHEN si % 2 = 0 THEN 1.0 ELSE 0.25 END AS DOUBLE) AS rate
         |FROM u
         |WHERE u < CASE WHEN si % 2 = 0 THEN 1.0 ELSE 0.25 END""".stripMargin,

    "d16_sequence_packing" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |wins AS (
        |  SELECT doc_id, i,
        |    array_to_string(w[i:i+31], ' ') AS chunk_text,
        |    len(w[i:i+31]) AS n_tokens
        |  FROM toks, UNNEST(range(1, len(w) + 1, 24)) AS t(i))
        |SELECT doc_id, CAST((i - 1) // 24 AS INT) AS chunk_idx, n_tokens,
        |       md5(chunk_text) AS chunk_hash
        |FROM wins""".stripMargin,

    "d09_winnow_fingerprints" ->
      """WITH grams AS (
        |  SELECT doc_id,
        |    list_transform(range(1, greatest(length(text) - 6, 2)),
        |                   i -> md5(substr(text, CAST(i AS INT), 8))) AS g
        |  FROM documents),
        |wins AS (
        |  SELECT doc_id,
        |    list_transform(range(1, len(g) + 1),
        |                   j -> list_aggregate(g[j:j+3], 'min')) AS fps
        |  FROM grams)
        |SELECT doc_id, len(list_distinct(fps)) AS n_fingerprints,
        |       list_aggregate(fps, 'min') AS min_fingerprint
        |FROM wins""".stripMargin,

    "d26_winnow_span_dups" ->
      """WITH grams AS (
        |  SELECT doc_id,
        |    list_transform(range(1, greatest(length(text) - 6, 2)),
        |                   i -> md5(substr(text, CAST(i AS INT), 8))) AS g
        |  FROM documents),
        |wins AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(g) + 1),
        |                  j -> list_aggregate(g[j:j+3], 'min'))) AS fps
        |  FROM grams),
        |fp AS (SELECT doc_id, unnest(fps) AS fp FROM wins)
        |SELECT fp, count(*) AS n_docs, min(doc_id) AS first_doc
        |FROM fp GROUP BY fp HAVING count(*) >= 2
        |ORDER BY n_docs DESC, fp ASC LIMIT 200""".stripMargin
  )
}
