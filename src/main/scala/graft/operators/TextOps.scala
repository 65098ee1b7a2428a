package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis / deduplication primitives for LLM-scale data
  * pipelines (mandated beyond the reference by BASELINE.json; the
  * reference's own string ops are SURVEY §2.8).
  *
  * All hashing is md5-based so every operator has a DuckDB-expressible
  * oracle; at 100 TB the md5 calls would swap for xxhash64 (same
  * plans, cheaper hash). Everything stays inside codegen'd Catalyst
  * expressions — no UDFs, no driver-side loops; every operator is a
  * groupBy/join plan that shuffles only on its key.
  */
object TextOps {

  /** The canonical wikitext → plain-text chain (shared by the
    * synthetic-corpus q_wikitext_clean and the real-dump q_wiki_clean
    * so the rule set cannot fork): comments, `<ref>` blocks, iterated
    * innermost-first template/table removal, the 3-round link trio
    * (namespaced links die bracket-free one round after their
    * captions' inner links resolve), external-link labels, leftover
    * tags, apostrophe runs, heading `==` runs, the five predefined
    * entities AFTER tag-stripping (amp last), whitespace collapse.
    * Pure regexp_replace chain — codegen'd, no HOF lambdas. The
    * DuckDB mirror lives in TextQueries.wikitextCleanSqlFor. */
  def wikitextClean(raw: Column): Column = {
    def rr(c: Column, pat: String, rep: String = " "): Column =
      regexp_replace(c, pat, rep)
    // (?s): real markup wraps comment/ref bodies across lines — the
    // negated-class patterns below match newlines already, but `.`
    // does not without DOTALL
    var c: Column = rr(raw, "(?s)<!--.*?-->")
    c = rr(c, "<ref[^>]*/>")
    c = rr(c, "(?s)<ref[^>]*>.*?</ref>")
    for (_ <- 1 to 5) c = rr(c, "\\{\\{[^{}]*\\}\\}")
    for (_ <- 1 to 2) c = rr(c, "\\{\\|[^{}]*\\|\\}")
    for (_ <- 1 to 3) {
      c = rr(c, "\\[\\[[^\\[\\]|:]*:[^\\[\\]]*\\]\\]")
      c = rr(c, "\\[\\[[^\\[\\]|]*\\|([^\\[\\]]*)\\]\\]", "$1")
      c = rr(c, "\\[\\[([^\\[\\]|]*)\\]\\]", "$1")
    }
    c = rr(c, "\\[https?://[^ \\]]* ([^\\]]*)\\]", "$1")
    c = rr(c, "\\[https?://[^\\]]*\\]")
    c = rr(c, "<[^>]+>")
    c = rr(c, "''+", "")
    c = rr(c, "==+")
    c = regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(c, "&lt;", "<"), "&gt;", ">"), "&quot;", "\""),
      "&#39;", "'"), "&amp;", "&")
    trim(regexp_replace(c, "\\s+", " "))
  }

  /** Whitespace tokens (the reference tokenizes with `split`,
    * monthly.py:666; `\S+` avoids empty tokens on both engines). */
  def tokens(text: Column): Column =
    expr(s"regexp_extract_all(${text.toString}, '\\\\S+', 0)")

  /** BPE-ish tokenization: letter runs, digit runs, single symbols. */
  def bpeTokens(text: Column): Column =
    expr(s"regexp_extract_all(lower(${text.toString}), '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0)")

  /** Whitespace-normalized lowercase text — the canonical dedup key
    * input (reference normalizes labels with lower/replace,
    * monthly.py:681). */
  def normalize(text: Column): Column =
    regexp_replace(lower(text), "\\s+", " ")

  /** Exact-dedup key: md5 of the first 50 RAW chars (the content
    * prefix). Dedup keys on raw text by design — [[normalize]] is a
    * separate op a pipeline applies first when it wants
    * whitespace/case-insensitive dedup. Single source for
    * qDedupExact / qDedupKeep / qCorpusCuration. */
  def dedupKey(text: Column): Column = md5(substring(text, 1, 50))

  /** Total PII span count (the qPiiScan email/phone/URL regex set). */
  def piiCount(textCol: String): Column =
    size(expr(s"regexp_extract_all($textCol, '[a-z0-9._]+@[a-z0-9.-]+', 0)")) +
      size(expr(s"regexp_extract_all($textCol, '[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}', 0)")) +
      size(expr(s"regexp_extract_all($textCol, 'https?://[^ ]+', 0)"))

  /** Stopword-marker count (the qQualityScore / lang-ID 'en' set). */
  def stopwordCount(textCol: String): Column =
    size(expr(s"regexp_extract_all(lower($textCol), '\\\\b(the|a|of|to|in|and|is)\\\\b', 0)"))

  /** The composite quality score: 0.5·length score + 0.5·bounded
    * stopword-ratio score — single source for qQualityScore and
    * qCorpusCuration (all single IEEE ops, bit-exact cross-engine). */
  def qualityScore(textCol: String): Column = {
    val lenScore = least(length(col(textCol)).cast("double") / 500.0, lit(1.0))
    val stopRatio = stopwordCount(textCol).cast("double") / size(tokens(col(textCol)))
    lit(0.5) * lenScore + lit(0.5) * least(stopRatio * 5.0, lit(1.0))
  }

  /** Curation scoring + keep decision applied to dedup KEEPERS — the
    * shared kernel of the batch corpus-curation query
    * (qCorpusCuration) and the streaming landing-zone ingest
    * ([[graft.streaming.StreamingPipelines.curateBatch]]), so the
    * two arms cannot drift: adds (n_tokens, quality, kept) where
    * kept ⟺ zero PII spans ∧ quality ≥ 0.5. Keeper SELECTION stays
    * with the caller (global window in batch; within-batch window +
    * registry anti-join in streaming) because that is exactly the
    * part whose incremental form differs. */
  def curationScore(keepers: DataFrame): DataFrame =
    keepers
      .withColumn("n_tokens", size(tokens(col("text"))))
      .withColumn("quality", qualityScore("text"))
      .withColumn("kept",
        piiCount("text") === 0 && col("quality") >= 0.5)

  /** Word n-gram shingles (distinct) from a docs DF with (idCol, textCol). */
  def shingles(docs: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    docs.select(col(idCol), expr(s"regexp_extract_all($textCol, '\\\\S+', 0)").as("t"))
      .filter(size(col("t")) >= n)
      .select(col(idCol), explode(expr(
        s"transform(sequence(0, size(t)-$n), i -> concat_ws(' ', ${(0 until n).map(k => s"t[i+$k]").mkString(", ")}))"))
        .as("shingle"))
      .distinct()

  /** Per-seed MinHash value: lexicographic min of seeded md5 over the
    * doc's shingles. Hex-string ordering is engine-independent. */
  def minhashAggs(seeds: Range): Seq[Column] =
    seeds.map(j => min(md5(concat(lit(s"$j|"), col("shingle")))).as(s"h$j"))

  /** Word-n-gram Jaccard near-dup pairs over df-capped shingle sets:
    * shingles with document frequency above `maxDf` (stopword-like
    * boilerplate) are dropped from BOTH the inverted-index join and
    * the set sizes, bounding per-shingle fan-out to maxDf² candidate
    * pairs while keeping the measure symmetric and
    * oracle-expressible. */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, maxDf: Int = 50, minJaccard: Double = 0.1): DataFrame = {
    val sh0 = shingles(docs, idCol, textCol, n)
    // Posting-list basket instead of window-df + index self-join
    // (r20 opt, the q_bfs_depth/q_degree_dist in-row pair idiom): ONE
    // shingle-keyed aggregate collects each shingle's sorted doc list
    // and its length IS the df (the old plan paid a window over
    // shingle for df, then re-shuffled both self-join sides on
    // shingle again); candidate pairs then explode in-row — the
    // quadratic is bounded at maxDf²/2 per posting by the same df cap
    // that bounded the join fan-out, and the exploded rows are
    // byte-identical to the rows the equi-join shipped through its
    // shuffle. Materialized once: the sizes leg and the pair leg both
    // read it (broadcast legs don't runtime-reuse exchanges).
    val posts = ScaleOps.materializeOnce(
      sh0.groupBy(col("shingle"))
        .agg(sort_array(collect_list(col(idCol))).as("ids"))
        .filter(size(col("ids")) <= maxDf)
        .select(col("ids")))
    val sizes = posts.select(explode(col("ids")).as(idCol))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    val inter = posts.select(explode(expr(
        """flatten(transform(ids, (x, i) ->
          |  transform(slice(ids, i + 2, size(ids)),
          |    y -> struct(x AS ida, y AS idb))))""".stripMargin)).as("p"))
      .groupBy(col("p.ida").as("ida"), col("p.idb").as("idb"))
      .agg(count(lit(1)).as("ninter"))
    inter
      .join(sizes.withColumnRenamed(idCol, "ida").withColumnRenamed("n", "na"), "ida")
      .join(sizes.withColumnRenamed(idCol, "idb").withColumnRenamed("n", "nb"), "idb")
      .withColumn("jaccard", col("ninter").cast("double") / (col("na") + col("nb") - col("ninter")))
      .filter(col("jaccard") >= minJaccard)
      .select("ida", "idb", "ninter", "na", "nb", "jaccard")
  }

  /** xxhash64 MinHash signatures — the engine fast path: one
    * codegen'd 64-bit hash per (seed, shingle) instead of an md5 hex
    * string, a ~4× cheaper signature pass with identical banding
    * semantics. Not DuckDB-expressible, so the declared oracle query
    * keeps the md5 form; MinhashXxSpec pins both paths to the same
    * near-dup pair set on the fixtures. */
  def minhashAggsXx(seeds: Range): Seq[Column] =
    seeds.map(j => min(xxhash64(lit(j), col("shingle"))).as(s"h$j"))

  /** Near-dup candidate pairs from xxhash64 MinHash signatures —
    * 4 bands × 2 rows, the same band-bucket equi-join as the md5
    * form (qMinhashLsh). */
  def minhashPairsXx(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sh = shingles(docs, idCol, textCol, 3)
    val aggs = minhashAggsXx(0 until 8)
    val sig = sh.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
    val bands = sig.select(col(idCol), posexplode(array(
        xxhash64(col("h0"), col("h1")), xxhash64(col("h2"), col("h3")),
        xxhash64(col("h4"), col("h5")), xxhash64(col("h6"), col("h7"))))
      .as(Seq("band", "key")))
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("ida"), col(s"b.$idCol").as("idb"))
      .agg(count(lit(1)).as("n_shared_bands"))
  }

  /** 32-bit token hash: first 8 hex digits of md5 as an integer —
    * matches the oracle's digit-Horner fold exactly. */
  def tokenHash32(tok: Column): Column =
    conv(substring(md5(tok), 1, 8), 16, 10).cast("long")

  /** Karp–Rabin rolling hash of the first `maxLen` characters:
    * fold acc*31 + code (mod 2^56−5) — exact integer arithmetic on
    * both engines (document fingerprinting; SURVEY §2.8 + BASELINE
    * text-analysis mandate). */
  def rollingHash(textCol: String, maxLen: Int): Column =
    expr(s"""aggregate(
      transform(sequence(1, least(length($textCol), $maxLen)),
                i -> cast(ascii(substring($textCol, i, 1)) AS bigint)),
      0L, (a, c) -> (a * 31 + c) % 72057594037927931)""")

  /** TF-weighted 32-bit SimHash per doc from a (id, text) DF.
    * Classic simhash: each token votes ±tf on every bit of its hash;
    * bit = 1 where the vote sum is ≥ 0. The 32 per-bit vote sums are
    * 32 conditional-sum columns of ONE doc-keyed aggregate (r19 opt)
    * instead of a ×32 bit-explode feeding a (doc, bit)-keyed
    * aggregate plus a second doc-keyed one — same exact integer votes
    * and the same bit composition, one fewer exchange and 32× fewer
    * aggregate input rows. */
  def simhash32(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("cnt"))
      .withColumn("h", tokenHash32(col("tok")))
    val votes = (0 until 32).map(b =>
      sum(when(expr(s"(shiftright(h, $b) & 1) = 1"), col("cnt"))
        .otherwise(-col("cnt"))).as(s"s$b"))
    tf.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
      .select(col(idCol),
        (0 until 32).map(b =>
          when(col(s"s$b") >= 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** All pairs within `maxHamming` of each other, found WITHOUT the
    * quadratic cross join: split the 32-bit simhash into 4 bytes; by
    * pigeonhole any pair with hamming distance ≤ 3 agrees exactly on
    * ≥ 1 byte, so candidates come from an equi-join on (byte index,
    * byte value) — the 100 TB-safe plan. Exact distance filters the
    * candidates. Requires maxHamming ≤ 3 for completeness. */
  def simhashPairs(sigs: DataFrame, idCol: String, maxHamming: Int): DataFrame = {
    require(maxHamming <= 3, "4-band blocking is only complete for hamming <= 3")
    // materialize the 4-rows-per-doc band table once (r19 opt): the
    // self-join's build side is a BroadcastExchange, so the signature
    // aggregate above the reused exchange re-ran per side
    val bands = ScaleOps.materializeOnce(
      sigs.select(col(idCol), col("simhash"),
        posexplode(expr("transform(sequence(0, 3), i -> shiftright(simhash, i * 8) & 255)"))
          .as(Seq("band", "byte"))))
    val a = bands.as("a")
    val b = bands.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.byte") === col("b.byte") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("ida"), col(s"b.$idCol").as("idb"),
        expr("bit_count(a.simhash ^ b.simhash)").as("hd"))
      .distinct()
      .filter(col("hd") <= maxHamming)
  }
}
