package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{PipelineOps, TextOps}
import graft.queries.Exact
import graft.sources.GeoIngest

/** Text analysis + deduplication over the documents table — the
  * LLM-data-pipeline surface mandated by BASELINE.json, built from
  * the reference's string-op vocabulary (SURVEY §2.8).
  */
object TextQueries {

  /** Token counting: whitespace tokens + BPE-ish regex tokens +
    * per-doc average token length. */
  def qTokenStats(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(TextOps.tokens(col("text"))).as("n_tokens"),
        size(TextOps.bpeTokens(col("text"))).as("n_bpe_tokens"),
        length(col("text")).as("len"),
        (length(regexp_replace(col("text"), "\\s+", "")).cast("double") /
          size(TextOps.tokens(col("text")))).as("avg_tok_len"))
  }

  val qTokenStatsSql: String =
    """SELECT doc_id,
      |  len(regexp_extract_all(text, '\S+')) AS n_tokens,
      |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_bpe_tokens,
      |  length(text) AS len,
      |  CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
      |    / len(regexp_extract_all(text, '\S+')) AS avg_tok_len
      |FROM documents""".stripMargin

  /** Quality scoring: length score, stopword ratio, token-length
    * score combined into one per-doc quality value (all single IEEE
    * ops — bit-exact cross-engine). */
  def qQualityScore(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .withColumn("n_tokens", size(TextOps.tokens(col("text"))))
      .withColumn("n_stop", TextOps.stopwordCount("text"))
      .withColumn("len_score", least(length(col("text")).cast("double") / 500.0, lit(1.0)))
      .withColumn("stop_ratio", col("n_stop").cast("double") / col("n_tokens"))
      .withColumn("quality", TextOps.qualityScore("text"))
      .select("doc_id", "n_tokens", "n_stop", "len_score", "stop_ratio", "quality")
  }

  val qQualityScoreSql: String =
    """SELECT doc_id, n_tokens, n_stop, len_score, stop_ratio,
      |  0.5 * len_score + 0.5 * least(stop_ratio * 5.0, 1.0) AS quality
      |FROM (
      |  SELECT doc_id,
      |    len(regexp_extract_all(text, '\S+')) AS n_tokens,
      |    len(regexp_extract_all(lower(text), '\b(the|a|of|to|in|and|is)\b')) AS n_stop,
      |    least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS len_score,
      |    CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|to|in|and|is)\b')) AS DOUBLE)
      |      / len(regexp_extract_all(text, '\S+')) AS stop_ratio
      |  FROM documents)""".stripMargin

  /** Language-ID by marker-word counts, deterministic argmax
    * tie-break; output is the confusion matrix against the labeled
    * lang column. */
  private val langMarkers = Seq(
    "en" -> "\\b(the|a|and|is)\\b",
    "de" -> "\\b(der|die|das|und)\\b",
    "es" -> "\\b(el|los|las|y)\\b",
    "fr" -> "\\b(le|les|et|est)\\b")

  def qLangId(spark: SparkSession, dir: String): DataFrame = {
    var df = Tables.documents(spark, dir).select(col("doc_id"), col("lang"), col("text"))
    for ((l, pat) <- langMarkers)
      df = df.withColumn(s"c_$l", size(expr(
        s"regexp_extract_all(lower(text), '${pat.replace("\\", "\\\\")}', 0)")))
    df.withColumn("pred_lang",
        when(col("c_en") >= col("c_de") && col("c_en") >= col("c_es") && col("c_en") >= col("c_fr"), "en")
        .when(col("c_de") >= col("c_es") && col("c_de") >= col("c_fr"), "de")
        .when(col("c_es") >= col("c_fr"), "es")
        .otherwise("fr"))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
  }

  val qLangIdSql: String = {
    val counts = langMarkers
      .map { case (l, p) => s"    len(regexp_extract_all(lower(text), '$p')) AS c_$l" }
      .mkString(",\n")
    s"""SELECT lang, pred_lang, COUNT(*) AS n FROM (
       |  SELECT lang,
       |    CASE WHEN c_en >= c_de AND c_en >= c_es AND c_en >= c_fr THEN 'en'
       |         WHEN c_de >= c_es AND c_de >= c_fr THEN 'de'
       |         WHEN c_es >= c_fr THEN 'es'
       |         ELSE 'fr' END AS pred_lang
       |  FROM (
       |  SELECT lang,
       |$counts
       |  FROM documents))
       |GROUP BY lang, pred_lang""".stripMargin
  }

  /** Document fingerprinting: whole-content md5 of normalized text +
    * Karp–Rabin rolling hash of the first 64 chars. */
  def qFingerprint(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        md5(TextOps.normalize(col("text"))).as("content_hash"),
        TextOps.rollingHash("text", 64).as("rhash64"))
  }

  val qFingerprintSql: String =
    """SELECT doc_id,
      |  md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS content_hash,
      |  list_reduce(list_transform(range(least(length(text), 64)),
      |    i -> CAST(ascii(substr(text, i+1, 1)) AS BIGINT)),
      |    (a, c) -> (a * 31 + c) % 72057594037927931) AS rhash64
      |FROM documents""".stripMargin

  /** Exact dedup by content-prefix hash: groups with >1 copy, keeper
    * = min doc id (hash-groupBy dedup; the keeper rule makes removal
    * deterministic). */
  def qDedupExact(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .groupBy(TextOps.dedupKey(col("text")).as("key"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper"))
      .filter(col("n_copies") > 1)
  }

  val qDedupExactSql: String =
    """SELECT md5(substr(text, 1, 50)) AS key,
      |  COUNT(*) AS n_copies, MIN(doc_id) AS keeper
      |FROM documents GROUP BY 1 HAVING COUNT(*) > 1""".stripMargin

  /** The dedup that actually drops rows: keep exactly one document
    * (min doc_id) per content-prefix key — the corpus a training run
    * would consume after dedup. One window keyed on the hash; at
    * 100 TB this is a single shuffle on the dedup key. */
  def qDedupKeep(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(TextOps.dedupKey(col("text"))).orderBy(col("doc_id"))
    Tables.documents(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("doc_id", "lang", "source")
  }

  val qDedupKeepSql: String =
    """SELECT doc_id, lang, source FROM (
      |  SELECT doc_id, lang, source,
      |    ROW_NUMBER() OVER (PARTITION BY md5(substr(text, 1, 50))
      |                       ORDER BY doc_id) AS rn
      |  FROM documents) WHERE rn = 1""".stripMargin

  /** Document-frequency cap for the Jaccard shingle index: shingles
    * appearing in more docs than this are stopword-like boilerplate;
    * dropping them bounds the per-shingle join fan-out to df² ≤ K²
    * candidate pairs (the standard inverted-index guard — without it
    * one ubiquitous 3-gram produces O(n²) pairs at 100 TB). */
  private val MaxShingleDf = 50

  /** Word-3-gram Jaccard near-dup pairs over the df-capped shingle
    * sets ([[graft.operators.TextOps.jaccardPairs]]). Candidate pairs
    * come from an equi-join on shared shingles (inverted-index
    * blocking) — never a cross join — and the df cap [[MaxShingleDf]]
    * bounds fan-out on hot shingles; both the intersection and the
    * set sizes use the capped sets, so the measure is symmetric and
    * the oracle expresses it identically. (The fixture corpus has no
    * shingle above df 25 even at sf0.1, so the cap only bites at
    * scale — TextOpsSpec proves it bites on a hot-shingle fixture.) */
  def qNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    TextOps.jaccardPairs(Tables.documents(spark, dir), "doc_id", "text",
      n = 3, maxDf = MaxShingleDf, minJaccard = 0.1)

  private val shinglesCte: String =
    """toks AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents),
      |sh AS (SELECT DISTINCT doc_id, shingle FROM (
      |  SELECT doc_id, unnest(list_transform(range(len(t)-2),
      |    i -> concat_ws(' ', t[i+1], t[i+2], t[i+3]))) AS shingle
      |  FROM toks WHERE len(t) >= 3))""".stripMargin

  val qNgramJaccardSql: String =
    s"""WITH $shinglesCte,
       |kept AS (SELECT s.doc_id, s.shingle FROM sh s JOIN (
       |    SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 50) r
       |  ON s.shingle = r.shingle),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY 1),
       |inter AS (SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS ninter
       |  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT ida, idb, ninter, sa.n AS na, sb.n AS nb,
       |  CAST(ninter AS DOUBLE) / (sa.n + sb.n - ninter) AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = ida
       |JOIN sizes sb ON sb.doc_id = idb
       |WHERE CAST(ninter AS DOUBLE) / (sa.n + sb.n - ninter) >= 0.1""".stripMargin

  /** MinHash + LSH near-dup candidates: k=8 seeded-md5 minhashes,
    * 4 bands × 2 rows; pairs sharing ≥1 band bucket. The band-bucket
    * equi-join is the scale path — candidate generation never
    * compares all pairs. */
  def qMinhashLsh(spark: SparkSession, dir: String): DataFrame = {
    val sh = TextOps.shingles(Tables.documents(spark, dir), "doc_id", "text", 3)
    val sig = sh.groupBy(col("doc_id")).agg(
      TextOps.minhashAggs(0 until 8).head, TextOps.minhashAggs(0 until 8).tail: _*)
    // materialize the 4-rows-per-doc band table once (r19 opt): the
    // self-join's build side is a BroadcastExchange, so the final
    // signature sort-aggregate and the band md5s re-ran per side
    // (only the partial-agg exchange below them is runtime-reused)
    val bands = graft.operators.ScaleOps.materializeOnce(
      sig.select(col("doc_id"), posexplode(array(
        md5(concat(col("h0"), col("h1"))), md5(concat(col("h2"), col("h3"))),
        md5(concat(col("h4"), col("h5"))), md5(concat(col("h6"), col("h7")))))
      .as(Seq("band", "key"))))
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"))
      .agg(count(lit(1)).as("n_shared_bands"))
  }

  val qMinhashLshSql: String = {
    val mins = (0 until 8).map(j => s"  min(md5('$j|' || shingle)) AS h$j").mkString(",\n")
    s"""WITH $shinglesCte,
       |sig AS (SELECT doc_id,
       |$mins
       |  FROM sh GROUP BY doc_id),
       |bands AS (SELECT doc_id, r['b'] AS band, r['key'] AS key FROM (
       |  SELECT doc_id, unnest([
       |    {'b': 0, 'key': md5(h0||h1)}, {'b': 1, 'key': md5(h2||h3)},
       |    {'b': 2, 'key': md5(h4||h5)}, {'b': 3, 'key': md5(h6||h7)}]) AS r
       |  FROM sig))
       |SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS n_shared_bands
       |FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
       |GROUP BY 1, 2""".stripMargin
  }

  /** MinHash LSH through the engine xxhash64 fast path, graded: the
    * signature/banding pass runs [[TextOps.minhashPairsXx]] (one
    * codegen'd 64-bit hash per (seed, shingle) instead of an md5 hex
    * string), then each candidate pair is VERIFIED with its exact
    * shingle Jaccard and only true near-dups (≥ 0.8) survive. Band
    * collisions on low-similarity pairs are hash-function-specific
    * noise, so the raw xx and md5 candidate sets differ there — but
    * verification removes exactly that noise, and every true near-dup
    * has (near-)identical per-seed minima under any hash, so the
    * verified output matches the md5-banded oracle (the recall
    * property MinhashXxSpec pins). Scale shape: band-bucket equi-join
    * for candidates, then intersection counting keyed on (pair,
    * shingle) — fan-out bounded by candidates × shingles-per-doc. */
  def qMinhashLshXx(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val cand = TextOps.minhashPairsXx(docs, "doc_id", "text").select("ida", "idb")
    // materialize the shingle table once (r19 opt): the sizes leg and
    // both intersection-join legs consume it through broadcast joins,
    // which re-run the scan→explode→distinct pipeline per consumer
    // (broadcast exchanges are not runtime-reusable across shapes)
    val sh = graft.operators.ScaleOps.materializeOnce(
      TextOps.shingles(docs, "doc_id", "text", 3))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = cand
      .join(sh.select(col("doc_id").as("ida"), col("shingle")), "ida")
      .join(sh.select(col("doc_id").as("idb"), col("shingle")), Seq("idb", "shingle"))
      .groupBy(col("ida"), col("idb"))
      .agg(count(lit(1)).as("ninter"))
    inter
      .join(sizes.select(col("doc_id").as("ida"), col("n").as("na")), "ida")
      .join(sizes.select(col("doc_id").as("idb"), col("n").as("nb")), "idb")
      .withColumn("jaccard",
        col("ninter").cast("double") / (col("na") + col("nb") - col("ninter")))
      .filter(col("jaccard") >= 0.8)
      .select("ida", "idb", "jaccard")
  }

  val qMinhashLshXxSql: String = {
    val mins = (0 until 8).map(j => s"  min(md5('$j|' || shingle)) AS h$j").mkString(",\n")
    s"""WITH $shinglesCte,
       |sig AS (SELECT doc_id,
       |$mins
       |  FROM sh GROUP BY doc_id),
       |bands AS (SELECT doc_id, r['b'] AS band, r['key'] AS key FROM (
       |  SELECT doc_id, unnest([
       |    {'b': 0, 'key': md5(h0||h1)}, {'b': 1, 'key': md5(h2||h3)},
       |    {'b': 2, 'key': md5(h4||h5)}, {'b': 3, 'key': md5(h6||h7)}]) AS r
       |  FROM sig)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT c.ida, c.idb, COUNT(*) AS ninter
       |  FROM cand c
       |  JOIN sh x ON x.doc_id = c.ida
       |  JOIN sh y ON y.doc_id = c.idb AND y.shingle = x.shingle
       |  GROUP BY 1, 2)
       |SELECT ida, idb,
       |  CAST(ninter AS DOUBLE) / (sa.n + sb.n - ninter) AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = ida
       |JOIN sizes sb ON sb.doc_id = idb
       |WHERE CAST(ninter AS DOUBLE) / (sa.n + sb.n - ninter) >= 0.8""".stripMargin
  }

  /** Span-level dedup — the sub-document granularity tier between
    * exact doc dedup and near-dup pairs (the C4/RefinedWeb
    * remove-duplicated-spans pass, adapted to fixed 10-token spans):
    * every document is chunked, each distinct span keeps only its
    * first occurrence corpus-wide ((doc_id, idx) order — the same
    * keeper rule as q_dedup_keep), and surviving spans re-assemble in
    * document order. One shuffle keyed on the span text for the
    * keeper window, one on doc_id for re-assembly; re-assembly uses
    * array_sort(struct(idx, span)) so the output is
    * partition-order-independent. Docs whose every span is seen
    * earlier vanish — the degenerate case equals exact dedup. */
  def qSpanDedup(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      .filter(size(col("t")) > 0)
    val chunks = toks.select(col("doc_id"),
      posexplode(expr(
        """transform(sequence(0, (size(t) - 1) DIV 10),
          |  i -> concat_ws(' ', slice(t, i * 10 + 1, 10)))""".stripMargin))
        .as(Seq("idx", "span")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("span")).orderBy(col("doc_id"), col("idx"))
    chunks.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans_kept"),
        expr("array_join(transform(array_sort(collect_list(struct(idx, span))), x -> x.span), ' ')")
          .as("cleaned"))
  }

  val qSpanDedupSql: String =
    """WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents
      |              WHERE len(regexp_extract_all(text, '\S+')) > 0),
      |chunks AS (SELECT doc_id, r['i'] AS idx, r['s'] AS span FROM (
      |  SELECT doc_id, unnest(list_transform(range((len(t)-1)//10 + 1),
      |    i -> {'i': i, 's': array_to_string(t[i*10+1 : i*10+10], ' ')})) AS r
      |  FROM toks)),
      |kept AS (SELECT doc_id, idx, span FROM (
      |  SELECT doc_id, idx, span,
      |    ROW_NUMBER() OVER (PARTITION BY span ORDER BY doc_id, idx) AS rn
      |  FROM chunks) WHERE rn = 1)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans_kept,
      |  string_agg(span, ' ' ORDER BY idx) AS cleaned
      |FROM kept GROUP BY 1""".stripMargin

  /** Vocabulary induction — the tokenizer-training aggregation: global
    * token frequencies + document frequencies, top-100 by (count,
    * token) total order. The top-k runs as orderBy+limit (Spark plans
    * TakeOrderedAndProject: per-partition partial top-k, then a
    * single k-row merge on the driver — no global sort at 100 TB);
    * the rank column is a window over the surviving 100 rows only. */
  def qVocabTopk(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
    val counts = tok.groupBy(col("tok"))
      .agg(count(lit(1)).as("cnt"), countDistinct(col("doc_id")).as("df"))
    val top = counts.orderBy(col("cnt").desc, col("tok")).limit(100)
    // constant-by-construction partition key = same single-partition
    // rank over the bounded 100-row top-k, minus WindowExec's
    // no-partition warning. pmod(len, 1) ≡ 0 but is NOT foldable: a
    // literal key gets pruned by the optimizer
    // (EliminateWindowPartitions) and the no-partition warning comes
    // right back — found by the r20 PlanAudit upw sweep
    top.withColumn("rank", row_number().over(
      org.apache.spark.sql.expressions.Window
        .partitionBy(pmod(length(col("tok")), lit(1)))
        .orderBy(col("cnt").desc, col("tok"))))
  }

  val qVocabTopkSql: String =
    """SELECT tok, cnt, df, CAST(rank AS INT) AS rank FROM (
      |  SELECT tok, COUNT(*) AS cnt,
      |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
      |    ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok) AS rank
      |  FROM (SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS tok
      |        FROM documents)
      |  GROUP BY tok)
      |WHERE rank <= 100""".stripMargin

  /** Benchmark decontamination — the eval-set hygiene pass every
    * training corpus needs: corpus documents with ≥ half their
    * distinct word-8-grams appearing in the POOLED benchmark shingle
    * set are flagged (the standard n-gram-overlap contamination test;
    * pooling over the whole suite is deliberately stricter than a
    * per-benchmark-document maximum — a doc assembled from several
    * eval items is still contaminated). The benchmark here is the
    * bounded doc_id<50 slice standing in for a fixed eval suite; its
    * distinct-shingle set BROADCASTS (eval suites are small by
    * nature — this is why the plan scales: the 100 TB corpus side
    * streams map-side against the broadcast set, and the only
    * shuffle is the per-doc overlap count on doc_id). */
  def qDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val benchSh = TextOps.shingles(docs.filter(col("doc_id") < 50), "doc_id", "text", 8)
      .select(col("shingle")).distinct()
    val corpSh = TextOps.shingles(docs.filter(col("doc_id") >= 50), "doc_id", "text", 8)
    // one aggregate for total and shared shingle counts (r19 opt): a
    // LEFT join against the broadcast benchmark set marks hits, so the
    // per-doc total and hit counts come out of the same keyed
    // aggregate — the corpus shingle table is scanned once and the
    // tot ⋈ hit doc_id join disappears. Docs with zero shared
    // shingles produce overlap 0 and fail the ≥ 0.5 filter exactly as
    // the old inner join dropped them.
    corpSh.join(broadcast(benchSh.withColumn("hit", lit(1))), Seq("shingle"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"), count(col("hit")).as("n_shared"))
      .withColumn("overlap", col("n_shared").cast("double") / col("n_shingles"))
      .filter(col("overlap") >= 0.5)
  }

  val qDecontaminateSql: String =
    """WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents),
      |sh8 AS (SELECT DISTINCT doc_id, shingle FROM (
      |  SELECT doc_id, unnest(list_transform(range(len(t)-7),
      |    i -> concat_ws(' ', t[i+1], t[i+2], t[i+3], t[i+4],
      |                        t[i+5], t[i+6], t[i+7], t[i+8]))) AS shingle
      |  FROM toks WHERE len(t) >= 8)),
      |bench AS (SELECT DISTINCT shingle FROM sh8 WHERE doc_id < 50),
      |corp AS (SELECT doc_id, shingle FROM sh8 WHERE doc_id >= 50),
      |tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM corp GROUP BY 1),
      |hit AS (SELECT c.doc_id, COUNT(*) AS n_shared
      |        FROM corp c JOIN bench b ON c.shingle = b.shingle GROUP BY 1)
      |SELECT t.doc_id, t.n_shingles, h.n_shared,
      |  CAST(h.n_shared AS DOUBLE) / t.n_shingles AS overlap
      |FROM tot t JOIN hit h ON t.doc_id = h.doc_id
      |WHERE CAST(h.n_shared AS DOUBLE) / t.n_shingles >= 0.5""".stripMargin

  /** Near-dup CLUSTER resolution — the step after pair detection that
    * dedup actually needs: connected components over the MinHash-LSH
    * pair graph, so each transitive duplicate family collapses to one
    * cluster with a deterministic representative (min doc id) and
    * exactly one keeper can survive. Pregel-style min-label
    * propagation to the fixpoint ([[graft.operators.GraphOps]]); the
    * oracle computes the same fixpoint as a recursive transitive
    * closure, so the green hash proves the iterative plan converged
    * to true components, not an iteration-bounded approximation. */
  def qDupClusters(spark: SparkSession, dir: String): DataFrame = {
    val pairs = qMinhashLsh(spark, dir).select(col("ida"), col("idb"))
    val labels = graft.operators.GraphOps.connectedComponents(pairs, "ida", "idb")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_rep"))
    labels.select(col("id").as("doc_id"), col("lbl").as("cluster_rep"))
      .withColumn("cluster_size", count(lit(1)).over(w))
  }

  /** Same cluster resolution through the large-star/small-star CC
    * engine path (GraphOps.connectedComponentsStar) — O(log n) rounds
    * independent of component diameter, the shape-adversarial scale
    * path. Shares q_dup_clusters' recursive-CTE oracle: both must
    * reach the identical transitive-closure fixpoint. */
  def qDupClustersStar(spark: SparkSession, dir: String): DataFrame = {
    val pairs = qMinhashLsh(spark, dir).select(col("ida"), col("idb"))
    val labels = graft.operators.GraphOps.connectedComponentsStar(pairs, "ida", "idb")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_rep"))
    labels.select(col("id").as("doc_id"), col("lbl").as("cluster_rep"))
      .withColumn("cluster_size", count(lit(1)).over(w))
  }

  val qDupClustersSql: String = {
    val mins = (0 until 8).map(j => s"  min(md5('$j|' || shingle)) AS h$j").mkString(",\n")
    s"""WITH RECURSIVE $shinglesCte,
       |sig AS (SELECT doc_id,
       |$mins
       |  FROM sh GROUP BY doc_id),
       |bands AS (SELECT doc_id, r['b'] AS band, r['key'] AS key FROM (
       |  SELECT doc_id, unnest([
       |    {'b': 0, 'key': md5(h0||h1)}, {'b': 1, 'key': md5(h2||h3)},
       |    {'b': 2, 'key': md5(h4||h5)}, {'b': 3, 'key': md5(h6||h7)}]) AS r
       |  FROM sig)),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       |edges AS (SELECT ida AS src, idb AS dst FROM pairs
       |          UNION SELECT idb, ida FROM pairs),
       |nodes AS (SELECT DISTINCT src AS id FROM edges),
       |reach AS (
       |  SELECT id, id AS lbl FROM nodes
       |  UNION
       |  SELECT e.dst AS id, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
       |cl AS (SELECT id AS doc_id, MIN(lbl) AS cluster_rep FROM reach GROUP BY 1)
       |SELECT doc_id, cluster_rep,
       |  COUNT(*) OVER (PARTITION BY cluster_rep) AS cluster_size
       |FROM cl""".stripMargin
  }

  /** TF-weighted 32-bit SimHash near-dup pairs at hamming ≤ 3. The
    * Spark side uses 4-byte-band pigeonhole blocking (equi-join, no
    * cross join — the 100 TB plan); the oracle brute-forces all pairs
    * — identical result, which is itself the completeness check for
    * the blocking scheme. */
  def qSimhash(spark: SparkSession, dir: String): DataFrame = {
    val sigs = TextOps.simhash32(Tables.documents(spark, dir), "doc_id", "text")
    TextOps.simhashPairs(sigs, "doc_id", maxHamming = 3)
  }

  val qSimhashSql: String =
    """WITH tf AS (SELECT doc_id, tok, COUNT(*) AS cnt FROM (
      |  SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS tok FROM documents)
      |  GROUP BY doc_id, tok),
      |th AS (SELECT doc_id, cnt,
      |  list_reduce(list_transform(range(8),
      |    i -> CAST(strpos('0123456789abcdef', substr(md5(tok), i+1, 1)) - 1 AS BIGINT)),
      |    (a, d) -> a * 16 + d) AS h
      |  FROM tf),
      |bits AS (SELECT doc_id, bit,
      |    SUM(CASE WHEN (h >> bit) & 1 = 1 THEN cnt ELSE -cnt END) AS s
      |  FROM th, (SELECT unnest(range(32)) AS bit) GROUP BY doc_id, bit),
      |sigs AS (SELECT doc_id,
      |    SUM(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS simhash
      |  FROM bits GROUP BY doc_id)
      |SELECT a.doc_id AS ida, b.doc_id AS idb,
      |  bit_count(xor(a.simhash, b.simhash)) AS hd
      |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin

  /** PII-pattern detection — the scrubbing pass an LLM training
    * pipeline runs before packaging: counts of email-, phone-, and
    * URL-shaped spans per document plus a has_pii flag (regex only,
    * identical dialect on both engines). */
  def qPiiScan(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(expr("regexp_extract_all(text, '[a-z0-9._]+@[a-z0-9.-]+', 0)")).as("n_email"),
        size(expr("regexp_extract_all(text, '[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}', 0)")).as("n_phone"),
        size(expr("regexp_extract_all(text, 'https?://[^ ]+', 0)")).as("n_url"))
      .withColumn("has_pii",
        (col("n_email") + col("n_phone") + col("n_url") > 0).cast("int"))
  }

  val qPiiScanSql: String =
    """SELECT doc_id,
      |  len(regexp_extract_all(text, '[a-z0-9._]+@[a-z0-9.-]+')) AS n_email,
      |  len(regexp_extract_all(text, '[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}')) AS n_phone,
      |  len(regexp_extract_all(text, 'https?://[^ ]+')) AS n_url,
      |  CAST((len(regexp_extract_all(text, '[a-z0-9._]+@[a-z0-9.-]+'))
      |      + len(regexp_extract_all(text, '[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}'))
      |      + len(regexp_extract_all(text, 'https?://[^ ]+'))) > 0 AS INT) AS has_pii
      |FROM documents""".stripMargin

  /** Repetition scoring — boilerplate/low-entropy detection: distinct
    * token ratio plus the longest immediate-repeat run, the cheap
    * stand-ins for a compression-ratio filter. */
  def qRepetition(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .withColumn("t", TextOps.tokens(col("text")))
      .withColumn("n_tokens", size(col("t")))
      .withColumn("n_distinct", size(array_distinct(col("t"))))
      .withColumn("distinct_ratio",
        col("n_distinct").cast("double") / col("n_tokens"))
      .withColumn("max_run", when(size(col("t")) < 2, lit(1)).otherwise(expr(
        """aggregate(transform(sequence(1, size(t) - 1), i -> CASE WHEN t[i] = t[i-1] THEN 1 ELSE 0 END),
           named_struct('run', 1, 'best', 1),
           (acc, x) -> CASE WHEN x = 1
                       THEN named_struct('run', acc.run + 1, 'best', greatest(acc.best, acc.run + 1))
                       ELSE named_struct('run', 1, 'best', acc.best) END,
           acc -> acc.best)""")))
      .select("doc_id", "n_tokens", "n_distinct", "distinct_ratio", "max_run")
  }

  val qRepetitionSql: String =
    """SELECT doc_id, n_tokens, n_distinct,
      |  CAST(n_distinct AS DOUBLE) / n_tokens AS distinct_ratio,
      |  max_run
      |FROM (
      |  SELECT doc_id,
      |    len(t) AS n_tokens,
      |    len(list_distinct(t)) AS n_distinct,
      |    list_reduce(list_concat([{'run': 1, 'best': 1}],
      |        list_transform(range(1, len(t)),
      |          i -> {'run': CASE WHEN t[i+1] = t[i] THEN 1 ELSE 0 END, 'best': 0})),
      |      (acc, x) -> CASE WHEN x['run'] = 1
      |                  THEN {'run': acc['run'] + 1, 'best': greatest(acc['best'], acc['run'] + 1)}
      |                  ELSE {'run': 1, 'best': acc['best']} END)['best'] AS max_run
      |  FROM (SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents))""".stripMargin

  /** Weighted data mixing — the pretraining mixture step: each
    * language stratum is downsampled to a target rate (English
    * upweighted, zh held out at a low rate) by the same md5-keyed
    * deterministic acceptance used everywhere randomness appears, so
    * the mixture is reproducible under any partitioning/retry.
    * Output: per-language totals, kept counts, realized rates. */
  def qDataMixture(spark: SparkSession, dir: String): DataFrame = {
    val rates = Map("en" -> 14, "de" -> 8, "es" -> 8, "fr" -> 8)
    // default 4 for any other/NULL lang — MUST match the oracle's ELSE arm
    val rateCol = rates.foldLeft(lit(4)) { case (acc, (l, r)) =>
      when(col("lang") === l, lit(r)).otherwise(acc)
    }
    Tables.documents(spark, dir)
      .withColumn("accept",
        (PipelineOps.hexDigit("concat('mix|', cast(doc_id AS string))", 1) < rateCol).cast("int"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_total"),
        sum(col("accept")).cast("long").as("n_kept"))
      .withColumn("realized_rate", col("n_kept").cast("double") / col("n_total"))
  }

  val qDataMixtureSql: String = {
    val accept = PipelineOps.hexDigitSql("concat('mix|', cast(doc_id AS VARCHAR))", "1")
      .replace("instr(", "strpos(")
    s"""SELECT lang, COUNT(*) AS n_total,
       |  CAST(SUM(CASE WHEN $accept <
       |    CASE lang WHEN 'en' THEN 14 WHEN 'de' THEN 8 WHEN 'es' THEN 8
       |              WHEN 'fr' THEN 8 ELSE 4 END
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(SUM(CASE WHEN $accept <
       |    CASE lang WHEN 'en' THEN 14 WHEN 'de' THEN 8 WHEN 'es' THEN 8
       |              WHEN 'fr' THEN 8 ELSE 4 END
       |    THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS realized_rate
       |FROM documents GROUP BY lang""".stripMargin
  }

  /** End-to-end corpus curation — the canonical LLM data-cleaning
    * composition in ONE declarative plan: exact-dedup keepers only
    * (first doc per raw content-prefix hash, TextOps.dedupKey),
    * PII-free (TextOps.piiCount = the qPiiScan regex set), quality
    * above threshold (TextOps.qualityScore = the qQualityScore
    * formula) — then the per-language corpus report (kept docs,
    * token budget, floor-quantized mean quality). The stage
    * implementations are the SAME shared helpers the standalone
    * queries use, so the composition cannot drift from the
    * individually-verified operators. */
  def qCorpusCuration(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(TextOps.dedupKey(col("text"))).orderBy(col("doc_id"))
    val keepers = Tables.documents(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1) // dedup keeper
    // scoring + keep decision shared with the streaming ingest
    // (StreamingPipelines.curateBatch) — batch/stream parity by
    // construction, spec-pinned end to end in StreamingSpec
    TextOps.curationScore(keepers)
      .filter(col("kept"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).cast("long").as("total_tokens"),
        Exact.qmean(col("quality")).as("avg_quality"))
  }

  val qCorpusCurationSql: String =
    s"""WITH keepers AS (
       |  SELECT doc_id, lang, text FROM (
       |    SELECT doc_id, lang, text,
       |      ROW_NUMBER() OVER (PARTITION BY md5(substr(text, 1, 50))
       |                         ORDER BY doc_id) AS rn
       |    FROM documents) WHERE rn = 1),
       |clean AS (
       |  SELECT doc_id, lang, text FROM keepers
       |  WHERE len(regexp_extract_all(text, '[a-z0-9._]+@[a-z0-9.-]+'))
       |      + len(regexp_extract_all(text, '[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}'))
       |      + len(regexp_extract_all(text, 'https?://[^ ]+')) = 0),
       |scored AS (
       |  SELECT lang,
       |    CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens,
       |    0.5 * least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
       |      + 0.5 * least(CAST(len(regexp_extract_all(lower(text), '\\b(the|a|of|to|in|and|is)\\b')) AS DOUBLE)
       |                    / len(regexp_extract_all(text, '\\S+')) * 5.0, 1.0) AS quality
       |  FROM clean)
       |SELECT lang, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       |  ${Exact.qmeanSql("quality")} AS avg_quality
       |FROM scored WHERE quality >= 0.5
       |GROUP BY lang""".stripMargin

  /** Sequence packing — the pretraining batching step that fills
    * fixed-token-budget bins with consecutive documents. This is the
    * shuffle-free "offset packing" variant used at scale: documents
    * are deterministically ordered within a shard (here the source
    * column — at 100 TB, the storage shard), the exclusive running
    * token total is one window over the shard, and the bin is
    * floor(offset / budget) — a document may straddle a bin boundary
    * (the packer's concat-then-chunk behavior), but no global state
    * or sequential reset is needed, so packing parallelizes per
    * shard. Output: per-bin document count, token total, and the
    * doc-id range packed into it. */
  def qPackSequences(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val budget = 2048
    val toks = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    toks
      .withColumn("off", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("bin", floor(col("off") / lit(budget.toDouble)).cast("long"))
      .groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("total_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
  }

  val qPackSequencesSql: String =
    """WITH toks AS (
      |  SELECT source, doc_id,
      |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |off AS (
      |  SELECT source, doc_id, n_tokens,
      |    COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      |  FROM toks)
      |SELECT source, CAST(FLOOR(off / 2048.0) AS BIGINT) AS bin,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
      |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      |FROM off GROUP BY 1, 2""".stripMargin

  /** Sliding-window document chunking with overlap — the RAG /
    * long-context pretraining windowing shape (fixed chunk size C,
    * stride S < C so consecutive chunks share C−S chars of context;
    * the HF `return_overflowing_tokens` + `stride` contract, here at
    * character granularity). Emits one row per (doc, chunk) with the
    * chunk's exact length and md5 — the hash pins the BOUNDARY
    * arithmetic (off-by-one in the start offset or tail clamp flips
    * every hash), which is the part chunkers get wrong.
    *
    * Scale: pure per-document fan-out (≤ len/S rows per doc) with no
    * shuffle at all — the plan is scan → generate → project, and any
    * downstream dedup/embedding step inherits chunk_hash as its key. */
  def qChunkOverlap(spark: SparkSession, dir: String): DataFrame = {
    val C = 200; val S = 150
    Tables.documents(spark, dir)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text"),
        length(col("text")).as("len"))
      .withColumn("chunk_idx",
        explode(expr(s"sequence(0L, (len - 1) DIV $S)")))
      .select(col("doc_id"), col("chunk_idx"),
        expr(s"substring(text, CAST(chunk_idx * $S + 1 AS INT), $C)").as("chunk"))
      .select(col("doc_id"), col("chunk_idx"),
        length(col("chunk")).as("chunk_len"),
        md5(col("chunk")).as("chunk_hash"))
  }

  val qChunkOverlapSql: String =
    """SELECT doc_id, chunk_idx, CAST(length(chunk) AS INT) AS chunk_len,
      |  md5(chunk) AS chunk_hash
      |FROM (
      |  SELECT doc_id, chunk_idx,
      |    substr(text, CAST(chunk_idx * 150 + 1 AS INT), 200) AS chunk
      |  FROM (
      |    SELECT doc_id, text,
      |      unnest(range((length(text) - 1) // 150 + 1)) AS chunk_idx
      |    FROM documents WHERE length(text) > 0))""".stripMargin

  /** One graded round of BPE pair-merge induction — the tokenizer-
    * training step a pretraining pipeline runs over its corpus
    * (Sennrich et al. 2016): count adjacent character pairs across
    * the word stream, pick the most frequent merge (count desc, pair
    * asc — deterministic), then apply it and report the compression
    * it buys per document. The merge application uses `replace`'s
    * left-to-right non-overlapping semantics — identical in Spark and
    * DuckDB — with the merged pair collapsing to one sentinel symbol,
    * so `sym_after = sym_before − occurrences`.
    *
    * Shape at scale: pair counting is ONE explode + keyed aggregate
    * (shuffle on the pair), the winning merge is a 1-row broadcast
    * (the scalar pattern), and the re-tokenize pass is per-row
    * expressions over the word stream with a second keyed aggregate
    * on doc_id. A full BPE train iterates this plan merge-by-merge,
    * checkpointing the vocabulary each round. */
  def qBpeMerges(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("word"))
    val pairs = words.filter(length(col("word")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"))
        .as("pair"))
    val top = pairs.groupBy(col("pair").as("merge"))
      .agg(count(lit(1)).as("pair_count"))
      .orderBy(col("pair_count").desc, col("merge").asc)
      .limit(1)
    words.crossJoin(broadcast(top))
      .groupBy(col("doc_id"), col("merge"), col("pair_count"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(length(col("word"))).as("sym_before"),
        sum(length(col("word")) -
          length(expr("replace(word, merge, '')"))).as("n_merged"))
      .select(col("doc_id"), col("merge"), col("pair_count"),
        col("n_tokens"), col("sym_before"),
        (col("sym_before") - col("n_merged")).as("sym_after"))
  }

  val qBpeMergesSql: String =
    """WITH words AS (
      |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
      |  FROM documents),
      |top AS (
      |  SELECT pair AS merge, COUNT(*) AS pair_count FROM (
      |    SELECT unnest(list_transform(range(1, length(word)),
      |      i -> substr(word, CAST(i AS INT), 2))) AS pair
      |    FROM words WHERE length(word) >= 2)
      |  GROUP BY 1 ORDER BY pair_count DESC, merge ASC LIMIT 1)
      |SELECT w.doc_id, t.merge, t.pair_count,
      |  COUNT(*) AS n_tokens,
      |  CAST(SUM(length(w.word)) AS BIGINT) AS sym_before,
      |  CAST(SUM(length(replace(w.word, t.merge, chr(1)))) AS BIGINT) AS sym_after
      |FROM words w CROSS JOIN top t
      |GROUP BY 1, 2, 3""".stripMargin

  /** Two TRUE rounds of BPE training — [[qBpeMerges]] iterated with
    * the recount in between, which is what makes it BPE rather than
    * frequent-bigram mining: round 2 counts pairs over the corpus
    * WITH round 1's merge already collapsed to its sentinel symbol,
    * so merges can chain (the second merge may contain the first's
    * sentinel — exactly how multi-character tokens grow). Each
    * round: keyed pair-count shuffle → 1-row broadcast winner →
    * per-row `replace` (left-to-right non-overlapping, identical in
    * Spark and DuckDB). Output: both merges, their counts, and the
    * per-document symbol-count trajectory sym0 ≥ sym1 ≥ sym2 — the
    * compression curve a tokenizer trainer monitors. */
  def qBpeApply(spark: SparkSession, dir: String): DataFrame = {
    // train on per-doc WORD FREQUENCIES, not the raw token stream (r19
    // opt — the BpeTrain discipline): the two-round structure scans
    // its input three times (each round's pair count + the final
    // trajectory aggregate) and runs the replace twice, so compressing
    // the stream to (doc_id, word, k) first shrinks every downstream
    // stage; pair counts weight by k and the symbol sums by length·k —
    // exact integers, identical result (oracle unchanged).
    def topPair(ws: DataFrame, c: String) = ws
      .filter(length(col(c)) >= 2)
      .select(col("k"), explode(expr(
        s"transform(sequence(1, length($c) - 1), i -> substring($c, i, 2))"))
        .as("pair"))
      .groupBy(col("pair")).agg(sum(col("k")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(1)
    val words = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w0"))
      .groupBy(col("doc_id"), col("w0")).agg(count(lit(1)).as("k"))
    val t1 = topPair(words, "w0").select(col("pair").as("m1"), col("cnt").as("c1"))
    val s1 = words.crossJoin(broadcast(t1))
      .withColumn("w1", expr("replace(w0, m1, char(1))"))
    val t2 = topPair(s1, "w1").select(col("pair").as("m2"), col("cnt").as("c2"))
    val s2 = s1.crossJoin(broadcast(t2))
      .withColumn("w2", expr("replace(w1, m2, char(2))"))
    s2.groupBy(col("doc_id"), col("m1"), col("c1"), col("m2"), col("c2"))
      .agg(sum(col("k")).as("n_tokens"),
        sum(length(col("w0")) * col("k")).as("sym0"),
        sum(length(col("w1")) * col("k")).as("sym1"),
        sum(length(col("w2")) * col("k")).as("sym2"))
  }

  val qBpeApplySql: String =
    """WITH words AS (
      |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w0
      |  FROM documents),
      |t1 AS (
      |  SELECT pair AS m1, COUNT(*) AS c1 FROM (
      |    SELECT unnest(list_transform(range(1, length(w0)),
      |      i -> substr(w0, CAST(i AS INT), 2))) AS pair
      |    FROM words WHERE length(w0) >= 2)
      |  GROUP BY 1 ORDER BY c1 DESC, m1 ASC LIMIT 1),
      |s1 AS (
      |  SELECT doc_id, w0, m1, c1, replace(w0, m1, chr(1)) AS w1
      |  FROM words CROSS JOIN t1),
      |t2 AS (
      |  SELECT pair AS m2, COUNT(*) AS c2 FROM (
      |    SELECT unnest(list_transform(range(1, length(w1)),
      |      i -> substr(w1, CAST(i AS INT), 2))) AS pair
      |    FROM s1 WHERE length(w1) >= 2)
      |  GROUP BY 1 ORDER BY c2 DESC, m2 ASC LIMIT 1),
      |s2 AS (
      |  SELECT doc_id, w0, w1, m1, c1, m2, c2, replace(w1, m2, chr(2)) AS w2
      |  FROM s1 CROSS JOIN t2)
      |SELECT doc_id, m1, c1, m2, c2, COUNT(*) AS n_tokens,
      |  CAST(SUM(length(w0)) AS BIGINT) AS sym0,
      |  CAST(SUM(length(w1)) AS BIGINT) AS sym1,
      |  CAST(SUM(length(w2)) AS BIGINT) AS sym2
      |FROM s2 GROUP BY 1, 2, 3, 4, 5""".stripMargin

  /** Full BPE tokenizer training to a target vocabulary — the
    * [[qBpeMerges]]/[[qBpeApply]] unit steps iterated to
    * [[graft.operators.BpeTrain.V]] merges with the recount between
    * every round (Sennrich et al. 2016), i.e. the loop a pretraining
    * pipeline runs to produce its merges.txt. Output: the merge
    * table — one row per round with the winning pair as INTEGER
    * SYMBOL CODES (letters are their codepoints; merge round N mints
    * code 255+N, so V is unbounded — see the carrier discussion in
    * [[graft.operators.BpeTrain]]), its overlap-counted
    * frequency, and the corpus symbol count AFTER the round (the
    * compression trajectory, strictly decreasing — pinned by
    * BpeTrainSpec). The oracle recomputes the whole train
    * independently as a DuckDB recursive CTE over the word-frequency
    * table, so every merge choice, tie-break, and the per-round
    * corpus totals are end-to-end cross-engine-graded — the Spark
    * side derives totals INCREMENTALLY (initial total minus
    * non-overlap removals) while DuckDB re-sums `cnt·len(word)` from
    * state each round, so a drift in replace semantics on either
    * side flips a hash cell. Plan shape: see [[graft.operators.BpeTrain]]
    * (one corpus shuffle, then V tiny keyed aggregates + 1-row
    * collects; model materialized build-once in IndexStore). */
  def qBpeTrain(spark: SparkSession, dir: String): DataFrame =
    graft.operators.BpeTrain.model(spark, dir)
      .filter(col("kind") === "merge")
      .select(col("merge_idx"), col("lhs_code"), col("rhs_code"),
        col("pair_count"), col("total_syms"))

  /** Shared recursive-CTE trainer for the two BPE oracles: the same
    * fixed-width integer-code carrier as [[graft.operators.BpeTrain]]
    * (`g` + 5 decimal digits per symbol; merge round N mints code
    * 255+N), retrained from scratch by DuckDB. */
  private def bpeTrainStateSql: String =
    s"""WITH RECURSIVE wf AS (
      |  SELECT word0,
      |    array_to_string(list_transform(range(1, length(word0) + 1),
      |      i -> 'g' || lpad(CAST(ascii(substr(word0, CAST(i AS INT), 1))
      |        AS VARCHAR), 5, '0')), '') AS word,
      |    cnt
      |  FROM (
      |    SELECT word AS word0, COUNT(*) AS cnt FROM (
      |      SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
      |      FROM documents)
      |    GROUP BY 1)),
      |st AS (
      |  SELECT 0 AS it, word0, word, cnt,
      |    '' AS m, CAST(0 AS BIGINT) AS mc
      |  FROM wf
      |  UNION ALL
      |  SELECT it + 1 AS it, word0,
      |    replace(word, top_m,
      |      'g' || lpad(CAST(256 + it AS VARCHAR), 5, '0')) AS word, cnt,
      |    top_m AS m, CAST(top_c AS BIGINT) AS mc
      |  FROM (
      |    SELECT DISTINCT it, word0, word, cnt,
      |      first_value(pair) OVER w AS top_m,
      |      first_value(pc)   OVER w AS top_c
      |    FROM (
      |      SELECT it, word0, word, cnt, pair,
      |        CASE WHEN pair IS NULL THEN NULL
      |             ELSE SUM(cnt) OVER (PARTITION BY pair) END AS pc
      |      FROM (
      |        SELECT it, word0, word, cnt,
      |          unnest(CASE WHEN length(word) >= 12
      |            THEN list_transform(range(1, length(word) // 6),
      |                   i -> substr(word, CAST((i - 1) * 6 + 1 AS INT), 12))
      |            ELSE [NULL] END) AS pair
      |        FROM st WHERE it < ${graft.operators.BpeTrain.V}))
      |    WINDOW w AS (
      |      ORDER BY CASE WHEN pc IS NULL THEN 1 ELSE 0 END,
      |               pc DESC, pair ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
      |  WHERE top_m IS NOT NULL)""".stripMargin

  val qBpeTrainSql: String =
    s"""$bpeTrainStateSql
      |SELECT it AS merge_idx,
      |  CAST(substr(m, 2, 5) AS INT) AS lhs_code,
      |  CAST(substr(m, 8, 5) AS INT) AS rhs_code,
      |  mc AS pair_count,
      |  CAST(SUM(cnt * (length(word) // 6)) AS BIGINT) AS total_syms
      |FROM st WHERE it >= 1
      |GROUP BY 1, 2, 3, 4""".stripMargin

  /** The corpus re-tokenized by the trained model — the second half
    * of the BPE-train grading: every document's word stream mapped
    * through the final word → symbol-string vocabulary (a broadcast
    * join against the 31-row map at fixture scale; still a broadcast
    * at web scale, where a 100k-merge vocab is megabytes). Grades
    * per-document word/char/token counts plus a codepoint checksum of
    * the actual token strings, so the exact tokenization — not just
    * its size — must match the oracle's independently re-trained
    * model. */
  def qBpeTrainTokens(spark: SparkSession, dir: String): DataFrame = {
    // tok_checksum sums the integer CODES of the word's final symbols
    // (decoded from the fixed-width carrier — an aggregate HOF, but
    // only over the broadcast-side vocab table, never the corpus)
    val vocab = graft.operators.BpeTrain.model(spark, dir)
      .filter(col("kind") === "vocab")
      .select(col("word0"), col("word"))
      .withColumn("tok_checksum", expr(
        "aggregate(sequence(1, length(word) DIV 6), CAST(0 AS BIGINT), " +
          "(acc, i) -> acc + CAST(substring(word, (i-1)*6+2, 5) AS BIGINT))"))
    val dw = Tables.documents(spark, dir).select(col("doc_id"),
      explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
        .as("word0"))
    dw.join(broadcast(vocab), "word0")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("word0"))).as("n_chars"),
        sum(expr("length(word) DIV 6")).as("n_tokens"),
        sum(col("tok_checksum")).as("token_checksum"))
  }

  val qBpeTrainTokensSql: String =
    s"""$bpeTrainStateSql,
      |vmap AS (
      |  SELECT word0, word,
      |    CAST(list_sum(list_transform(range(1, length(word) // 6 + 1),
      |      i -> CAST(substr(word, CAST((i - 1) * 6 + 2 AS INT), 5)
      |             AS BIGINT))) AS BIGINT)
      |      AS tok_checksum
      |  FROM st WHERE it = (SELECT MAX(it) FROM st)),
      |dw AS (
      |  SELECT doc_id,
      |    unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word0
      |  FROM documents)
      |SELECT dw.doc_id, COUNT(*) AS n_words,
      |  CAST(SUM(length(dw.word0)) AS BIGINT) AS n_chars,
      |  CAST(SUM(length(v.word) // 6) AS BIGINT) AS n_tokens,
      |  CAST(SUM(v.tok_checksum) AS BIGINT) AS token_checksum
      |FROM dw JOIN vmap v ON dw.word0 = v.word0
      |GROUP BY 1""".stripMargin

  /** Batch-parallel BPE at realistic vocabulary (V=4096) — the scale
    * form of q_bpe_train: sequential BPE cannot run 32k–100k cluster
    * rounds, so per round every candidate pair sharing no symbol with
    * a strictly higher-ranked candidate is selected and applied
    * simultaneously (symbol-disjoint ⇒ occurrences cannot overlap ⇒
    * order-independent), collapsing 4096 merges into ~240 one-pass
    * rounds. Corpus-sized stages stay distributed (pretoken-frequency
    * shuffle, deterministic top-M TakeOrderedAndProject); the merge
    * loop runs on the collected knob-bounded frequency table — the
    * SentencePiece/HF practice. The oracle re-trains everything as a
    * DuckDB recursive CTE over the same top-M table (one recursion
    * round per batch): ranking, the disjointness rule, tie-breaks,
    * code minting, and replace semantics are cross-engine-graded at
    * V=4096. See [[graft.operators.BpeTrain.trainScale]]. */
  def qBpeTrainScale(spark: SparkSession, dir: String): DataFrame =
    graft.operators.BpeTrain.trainScale(spark, dir)

  /** BPE at a REAL tokenizer vocabulary — V=32768 (the
    * SentencePiece/HF default order), M=32768 5-gram pretoken units,
    * T=4096 candidate window — running the byte-identical batched
    * code path q_bpe_train_scale grades at V=4096. This arm is
    * MEASURED (bench + sf0.1→sf1 decade), not oracle-graded: the
    * recursive-CTE re-train that grades V=4096 is two orders of
    * magnitude more state and work at these knobs (see the
    * oracle-cost ceiling note on [[graft.operators.BpeTrain
    * .train32k]]), so the driver records its weaker rows-only check
    * while the V=4096 grade pins the algorithm cross-engine. The
    * design claim under measurement: V multiplies only the bounded
    * local merge loop — corpus-sized work is one counting shuffle +
    * one top-M TakeOrderedAndProject regardless of V. */
  def qBpeTrain32k(spark: SparkSession, dir: String): DataFrame =
    graft.operators.BpeTrain.train32k(spark, dir)

  val qBpeTrainScaleSql: String = {
    val (v, m, t) = (graft.operators.BpeTrain.Vscale,
      graft.operators.BpeTrain.Mscale, graft.operators.BpeTrain.Tscale)
    s"""WITH RECURSIVE wf AS (
      |  SELECT u AS word0,
      |    array_to_string(list_transform(range(1, length(u) + 1),
      |      i -> 'g' || lpad(CAST(ascii(substr(u, CAST(i AS INT), 1))
      |        AS VARCHAR), 5, '0')), '') AS word,
      |    cnt
      |  FROM (
      |    SELECT u, COUNT(*) AS cnt FROM (
      |      SELECT unnest(list_transform(range(1, len(ws) - 1),
      |        i -> ws[CAST(i AS INT)] || '.' || ws[CAST(i + 1 AS INT)]
      |             || '.' || ws[CAST(i + 2 AS INT)])) AS u
      |      FROM (SELECT regexp_extract_all(lower(text), '[a-z]+') AS ws
      |            FROM documents))
      |    GROUP BY 1 ORDER BY cnt DESC, u LIMIT $m)),
      |st AS (
      |  SELECT 0 AS it, CAST(0 AS BIGINT) AS nm, word0, word, cnt,
      |         CAST([] AS VARCHAR[]) AS msl, CAST([] AS BIGINT[]) AS mcl
      |  FROM wf
      |  UNION ALL
      |  SELECT * FROM (
      |    WITH cur AS (SELECT * FROM st WHERE nm < $v),
      |    cand AS (
      |      SELECT pair, SUM(cnt) AS pc,
      |        ROW_NUMBER() OVER (ORDER BY SUM(cnt) DESC, pair ASC) AS rk
      |      FROM (
      |        SELECT cnt, unnest(list_transform(range(1, length(word) // 6),
      |          i -> substr(word, CAST((i - 1) * 6 + 1 AS INT), 12))) AS pair
      |        FROM cur WHERE length(word) >= 12)
      |      GROUP BY pair
      |      QUALIFY rk <= $t),
      |    sel AS (
      |      SELECT pair, pc, ROW_NUMBER() OVER (ORDER BY rk) AS srk
      |      FROM cand c
      |      WHERE NOT EXISTS (
      |        SELECT 1 FROM cand d WHERE d.rk < c.rk AND (
      |          substr(d.pair, 1, 6) IN (substr(c.pair, 1, 6),
      |                                   substr(c.pair, 7, 6)) OR
      |          substr(d.pair, 7, 6) IN (substr(c.pair, 1, 6),
      |                                   substr(c.pair, 7, 6))))),
      |    app AS (
      |      SELECT
      |        list(pair || '|g' || lpad(CAST(255 +
      |            (SELECT max(nm) FROM cur) + srk AS VARCHAR), 5, '0')
      |          ORDER BY srk) AS pats,
      |        list(pair ORDER BY srk) AS msl,
      |        list(pc ORDER BY srk) AS mcl,
      |        COUNT(*) AS k
      |      FROM sel)
      |    SELECT cur.it + 1, cur.nm + app.k, cur.word0,
      |      list_reduce([cur.word] || app.pats,
      |        (acc, x) -> replace(acc, split_part(x, '|', 1),
      |                            split_part(x, '|', 2))),
      |      cur.cnt, app.msl, app.mcl
      |    FROM cur CROSS JOIN app
      |    WHERE app.k > 0))
      |SELECT CAST(nm - len(msl) + i AS INT) AS merge_idx,
      |  CAST(substr(msl[CAST(i AS INT)], 2, 5) AS INT) AS lhs_code,
      |  CAST(substr(msl[CAST(i AS INT)], 8, 5) AS INT) AS rhs_code,
      |  mcl[CAST(i AS INT)] AS pair_count,
      |  CAST(it AS INT) AS round_idx
      |FROM (SELECT DISTINCT it, nm, msl, mcl FROM st WHERE it >= 1),
      |     unnest(generate_series(1, len(msl))) AS t(i)
      |WHERE nm - len(msl) + i <= $v""".stripMargin
  }

  /** Misra–Gries heavy hitters, graded by its GUARANTEES (the
    * q_distinct_approx pattern — sketch content is order-dependent,
    * the theory bounds are not): a k=16-counter mergeable MG summary
    * ([[graft.operators.Sketches.MisraGries]]) over the corpus
    * character stream, gated against exact counts. Every character
    * with true frequency > n/k must be IN the sketch (the
    * n/(k+1)-presence guarantee, strictly implied), and its estimate
    * must undercount by at most n/k. The oracle pins the exact
    * heavy set + literal TRUE — a sketch losing either guarantee
    * under Spark's partition-merge order flips a hash-graded cell.
    * 100 TB story: the summary is single-pass, k-bounded, and
    * partition-mergeable — hot-token tracking / skew-key detection
    * without the exact (token → count) shuffle; the driver artifact
    * is k counters, knob-bounded like the IVF header. */
  def qHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = 16
    val chars = Tables.documents(spark, dir)
      .select(explode(expr("regexp_extract_all(lower(text), '[a-z]', 0)")).as("ch"))
    val exact = chars.groupBy(col("ch")).agg(count(lit(1)).as("cnt"))
    // n is the marginal of the 26-row exact table (r19 opt) — one
    // fewer corpus-sized scan of the char stream
    val nRow = exact.agg(sum(col("cnt")).as("n"))
    val mg = chars.as[String]
      .select(new graft.operators.Sketches.MisraGries(k).toColumn).head()
    val cand = mg.toSeq.toDF("ch", "est")
    exact.crossJoin(broadcast(nRow))
      .filter(col("cnt") > col("n") / k)
      .join(broadcast(cand), Seq("ch"), "left")
      .select(col("ch"), col("cnt"),
        col("est").isNotNull.as("in_sketch"),
        (col("est").isNotNull && col("est") <= col("cnt") &&
          col("cnt") - coalesce(col("est"), lit(0L)) <= col("n") / k)
          .as("within_bound"))
  }

  val qHeavyHittersSql: String =
    """WITH toks AS (
      |  SELECT unnest(regexp_extract_all(lower(text), '[a-z]')) AS ch
      |  FROM documents),
      |exact AS (SELECT ch, COUNT(*) AS cnt FROM toks GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n FROM toks)
      |SELECT ch, cnt, TRUE AS in_sketch, TRUE AS within_bound
      |FROM exact CROSS JOIN n
      |WHERE cnt > n / 16""".stripMargin

  /** Feature hashing (the "hashing trick", Weinberger et al. '09):
    * vectorize each document into a FIXED 16-bucket space without a
    * vocabulary pass — bucket = keyed hash of the token, value = sum
    * of ±1 signs from a second hash (the signed variant that makes
    * collisions cancel in expectation). This is the vectorizer a
    * streaming/low-memory pipeline uses instead of q_tfidf's
    * vocabulary join: no global state, no second scan, output width
    * knob-bounded forever. Shape: one explode + one keyed aggregate
    * on (doc, bucket); everything integer-exact (md5-digit hashes —
    * the q_data_mixture source — and ±1 sums). */
  def qFeatureHash(spark: SparkSession, dir: String): DataFrame = {
    val bucket = PipelineOps.hexDigit("concat('fh|', token)", 1)
    val sign = when(PipelineOps.hexDigit("concat('fh|', token)", 2) < 8, lit(1L))
      .otherwise(lit(-1L))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("token"))
      .select(col("doc_id"), bucket.as("bucket"), sign.as("s"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("cnt"), sum(col("s")).as("fval"))
  }

  val qFeatureHashSql: String = {
    val b = PipelineOps.hexDigitSql("concat('fh|', token)", "1")
      .replace("instr(", "strpos(")
    val s = PipelineOps.hexDigitSql("concat('fh|', token)", "2")
      .replace("instr(", "strpos(")
    s"""SELECT doc_id, ($b) AS bucket, COUNT(*) AS cnt,
       |  CAST(SUM(CASE WHEN ($s) < 8 THEN 1 ELSE -1 END) AS BIGINT) AS fval
       |FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
       |      FROM documents)
       |GROUP BY doc_id, ($b)""".stripMargin
  }

  /** Count–min sketch graded by its guarantees (the q_heavy_hitters
    * pattern, dual error direction): a d=4 × w=256 CMS
    * ([[graft.operators.Sketches.CountMin]]) over the corpus
    * character stream, gated per letter against exact counts.
    * `no_undercount` (est ≥ true) is CMS's deterministic guarantee —
    * counters only increase; `within_eps` checks est ≤ true + ⌈e·N/w⌉,
    * the ε=e/w analysis bound, deterministic here because data and
    * seeds are fixed. The oracle pins exact counts + literal TRUEs.
    * Unlike MG the sketch is LINEAR (merge = cell-wise add), so its
    * content is partitioning-INVARIANT — SketchesSpec pins exact
    * matrix equality across splits. Driver artifact: d·w = 1024
    * longs, knob-bounded. */
  def qCmsGuarantee(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (d, w) = (4, 256)
    val chars = Tables.documents(spark, dir)
      .select(explode(expr("regexp_extract_all(lower(text), '[a-z]', 0)")).as("ch"))
    val exact = chars.groupBy(col("ch")).agg(count(lit(1)).as("cnt"))
    // n is the marginal of the 26-row exact table (r19 opt) — one
    // fewer corpus-sized scan of the char stream
    val nRow = exact.agg(sum(col("cnt")).as("n"))
    val sk = chars.as[String]
      .select(new graft.operators.Sketches.CountMin(d, w).toColumn).head()
    val ests = ('a' to 'z').map { c =>
      (c.toString, graft.operators.Sketches.cmEstimate(sk, d, w, c.toString))
    }.toDF("ch", "est")
    exact.join(broadcast(ests), Seq("ch"))
      .crossJoin(broadcast(nRow))
      .select(col("ch"), col("cnt"),
        (col("est") >= col("cnt")).as("no_undercount"),
        (col("est") <= col("cnt") +
          ceil(lit(math.E) * col("n") / w).cast("long")).as("within_eps"))
  }

  val qCmsGuaranteeSql: String =
    """SELECT ch, COUNT(*) AS cnt, TRUE AS no_undercount, TRUE AS within_eps
      |FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]')) AS ch
      |      FROM documents)
      |GROUP BY ch""".stripMargin

  /** Per-document mean log-probability under the corpus's own
    * add-one-smoothed bigram language model — the perplexity-style
    * quality filter one tier above [[qUnigramTypicality]] (CCNet
    * scores documents with a KenLM n-gram model the same way:
    * low log-prob = out-of-domain or garbage, suspiciously high =
    * boilerplate). logp(w2|w1) = ln((c(w1,w2)+1)/(c(w1·)+V)).
    *
    * Scale shape: bigrams are a pure PER-ROW array fan-out
    * (`transform(sequence)` over the token array — no window, no
    * position self-join, no shuffle to form pairs); the model tables
    * c2/c1 are two keyed aggregations; scoring joins shuffle on the
    * same keys; V broadcasts as a 1-row aggregate. Cross-engine
    * determinism: each bigram's ln(·) is floor-quantized at 1e-9 to
    * a long before the per-doc sum (the qDocEntropy rule). */
  def qBigramLm(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("t", expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
    val toks = docs.select(col("doc_id"), explode(col("t")).as("w"))
    val vocab = toks.agg(count_distinct(col("w")).as("v"))
    // per-doc bigram COUNTS, materialized once (r20, guide §2.3 —
    // aggregate before the fan-out): the old plan re-ran the
    // scan+regexp+pair-fan-out subtree for the model aggregation AND
    // the scoring rows; now one corpus pass builds (doc_id, w1, w2, k)
    // and both consume counts — each bigram's quantized-long lq
    // weights by k, which equals the per-occurrence sum EXACTLY
    val bik = graft.operators.ScaleOps.materializeOnce(
      docs.where(size(col("t")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(t) - 2), i -> struct(t[i] AS w1, t[i + 1] AS w2))"))
          .as("bg"))
        .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
        .groupBy(col("doc_id"), col("w1"), col("w2"))
        .agg(count(lit(1)).as("k")))
    val c2 = bik.groupBy(col("w1"), col("w2")).agg(sum(col("k")).as("c2"))
    // c1 is the w1-marginal of the vocab²-sized c2 table (r19 opt) —
    // no second aggregation over the corpus bigram stream; exact
    // integers either way (vocab stays on unigrams: single-token docs
    // emit no bigram, so c2's keys undercount the token inventory)
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    bik.join(c2, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("lq",
        floor(log((col("c2").cast("double") + lit(1.0)) /
            (col("c1").cast("double") + col("v").cast("double"))) * lit(1e9))
          .cast("long"))
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_bigrams"),
        (sum(col("lq") * col("k")).cast("double") / lit(1e9) /
          sum(col("k")).cast("double")).as("avg_logp"))
  }

  val qBigramLmSql: String =
    """WITH d AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS t
      |  FROM documents),
      |toks AS (SELECT doc_id, unnest(t) AS w FROM d),
      |vocab AS (SELECT COUNT(DISTINCT w) AS v FROM toks),
      |bi AS (
      |  SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, len(t)),
      |      i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS bg
      |    FROM d WHERE len(t) >= 2)),
      |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bi GROUP BY 1, 2),
      |c1 AS (SELECT w1, COUNT(*) AS c1 FROM bi GROUP BY 1)
      |SELECT b.doc_id, COUNT(*) AS n_bigrams,
      |  CAST(SUM(CAST(FLOOR(ln(
      |      (CAST(c2.c2 AS DOUBLE) + 1e0)
      |        / (CAST(c1.c1 AS DOUBLE) + CAST(v.v AS DOUBLE))) * 1e9)
      |    AS BIGINT)) AS DOUBLE) / 1e9 / COUNT(*) AS avg_logp
      |FROM bi b
      |JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2
      |JOIN c1 ON b.w1 = c1.w1
      |CROSS JOIN vocab v
      |GROUP BY b.doc_id""".stripMargin

  /** URL canonicalization — the dedup-by-URL key every web-corpus
    * pipeline computes before content dedup (C4 deduplicated on
    * normalized URL; CCNet/RefinedWeb carry the same key): lowercase
    * scheme+host, strip the fragment, drop default ports (80/443 for
    * their schemes ONLY — a mismatched port survives), strip a
    * leading `www.`, remove `utm_*` tracking parameters while
    * preserving the remaining query order, trim a trailing path
    * slash, and extract the registrable-ish domain (last two host
    * labels) for per-domain accounting. Raw URLs are synthesized
    * deterministically from doc_id (mixed-case schemes/hosts, an
    * explicit :443 crossed with all schemes so the default-port rule
    * is CONDITIONAL, utm-polluted and clean query strings,
    * fragments) by the SAME formula in both engines; the
    * normalization itself is implemented INDEPENDENTLY — Spark
    * split_part/filter-lambda/regexp vs DuckDB
    * str_split/list_filter/regexp — so every rule is
    * cross-engine-graded per doc. Pure per-row string expressions:
    * no shuffle, no UDF; at 100 TB this runs inside the scan stage. */
  def qUrlNormalize(spark: SparkSession, dir: String): DataFrame = {
    val raw =
      """concat(
        |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'HTTP://'
        |       WHEN 1 THEN 'https://WWW.' ELSE 'https://' END,
        |  'Site', doc_id % 11, '.Example.COM',
        |  CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END,
        |  '/Dir', doc_id % 5, '/page',
        |  CASE WHEN doc_id % 2 = 0
        |    THEN concat('?utm_source=feed&id=', doc_id % 7, '&utm_campaign=x')
        |    ELSE concat('?id=', doc_id % 7) END,
        |  CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END)""".stripMargin
    Tables.documents(spark, dir)
      .select(col("doc_id"), expr(raw).as("url"))
      .withColumn("base", expr("split_part(url, '#', 1)"))
      .withColumn("scheme", expr("lower(split_part(base, '://', 1))"))
      .withColumn("rest", expr("split_part(base, '://', 2)"))
      .withColumn("hostport", expr("split_part(rest, '/', 1)"))
      .withColumn("pathq", expr("substring(rest, length(hostport) + 1)"))
      .withColumn("host", expr(
        "regexp_replace(lower(split_part(hostport, ':', 1)), '^www\\\\.', '')"))
      .withColumn("port", expr("split_part(hostport, ':', 2)"))
      .withColumn("path", expr("split_part(pathq, '?', 1)"))
      .withColumn("qs", expr("split_part(pathq, '?', 2)"))
      .withColumn("qkeep", expr(
        "array_join(filter(split(qs, '&'), " +
          "p -> p NOT LIKE 'utm_%' AND p != ''), '&')"))
      .withColumn("portpart", expr(
        "CASE WHEN port = '' OR (scheme = 'https' AND port = '443') " +
          "OR (scheme = 'http' AND port = '80') " +
          "THEN '' ELSE concat(':', port) END"))
      .withColumn("canon_url", expr(
        "concat(scheme, '://', host, portpart, " +
          "regexp_replace(path, '/$', ''), " +
          "CASE WHEN qkeep = '' THEN '' ELSE concat('?', qkeep) END)"))
      .withColumn("domain", expr(
        "regexp_extract(host, '([^.]+\\\\.[^.]+)$', 1)"))
      .select(col("doc_id"), col("url"), col("canon_url"),
        col("host"), col("domain"))
  }

  val qUrlNormalizeSql: String =
    """WITH raw AS (
      |  SELECT doc_id, concat(
      |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'HTTP://'
      |         WHEN 1 THEN 'https://WWW.' ELSE 'https://' END,
      |    'Site', doc_id % 11, '.Example.COM',
      |    CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END,
      |    '/Dir', doc_id % 5, '/page',
      |    CASE WHEN doc_id % 2 = 0
      |      THEN concat('?utm_source=feed&id=', doc_id % 7, '&utm_campaign=x')
      |      ELSE concat('?id=', doc_id % 7) END,
      |    CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END) AS url
      |  FROM documents),
      |p1 AS (
      |  SELECT doc_id, url,
      |    split_part(url, '#', 1) AS base FROM raw),
      |p2 AS (
      |  SELECT doc_id, url,
      |    lower(split_part(base, '://', 1)) AS scheme,
      |    split_part(base, '://', 2) AS rest FROM p1),
      |p3 AS (
      |  SELECT *, split_part(rest, '/', 1) AS hostport,
      |    substr(rest, length(split_part(rest, '/', 1)) + 1) AS pathq
      |  FROM p2),
      |p4 AS (
      |  SELECT doc_id, url, scheme,
      |    regexp_replace(lower(split_part(hostport, ':', 1)), '^www\.', '')
      |      AS host,
      |    split_part(hostport, ':', 2) AS port,
      |    split_part(pathq, '?', 1) AS path,
      |    split_part(pathq, '?', 2) AS qs
      |  FROM p3),
      |p5 AS (
      |  SELECT *,
      |    coalesce(list_aggregate(list_filter(str_split(qs, '&'),
      |      p -> NOT p LIKE 'utm_%' AND p != ''), 'string_agg', '&'), '')
      |      AS qkeep,
      |    CASE WHEN port = '' OR (scheme = 'https' AND port = '443')
      |         OR (scheme = 'http' AND port = '80')
      |      THEN '' ELSE concat(':', port) END AS portpart
      |  FROM p4)
      |SELECT doc_id, url,
      |  concat(scheme, '://', host, portpart,
      |    regexp_replace(path, '/$', ''),
      |    CASE WHEN qkeep = '' THEN '' ELSE concat('?', qkeep) END)
      |    AS canon_url,
      |  host,
      |  regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS domain
      |FROM p5""".stripMargin

  /** HTML → text extraction — step 1 of every web-corpus pipeline
    * (C4's "extracted text" starts here; trafilatura/justext are the
    * production versions of this shape): drop comments and `<script>`/`<style>`
    * blocks WITH their contents (comments FIRST — their bodies may
    * contain `>` and tags, which would mis-split the generic tag
    * regex; all three run DOTALL `(?s)` because real crawls wrap
    * comment and script bodies across lines, and the fixture embeds
    * newlines inside all three block types), strip remaining tags to
    * a space,
    * decode the five predefined character entities (amp LAST so
    * `&amp;lt;` cannot double-decode), collapse runs of spaces, trim.
    * Per-doc synthetic HTML wraps the corpus text by the same
    * deterministic formula in both engines (title/heading from
    * doc_id, a style rule, a script whose BODY contains entities —
    * they must vanish with the block — and an entity-laden trailer
    * whose decoded `<b>` must SURVIVE as text because decoding runs
    * after tag-stripping); the extraction itself is implemented
    * independently per engine. Pure per-row regexp/replace chains —
    * codegen'd, no shuffle; at 100 TB this is the scan-stage
    * transform between a WARC payload and every text operator. */
  def qHtmlExtract(spark: SparkSession, dir: String): DataFrame = {
    val raw =
      """concat('<html><head><title>Doc ', doc_id,
        |  '</title><style>.c{color:red}', chr(10), '.d{margin:0}</style>',
        |  '<script>if(1&lt;2){', chr(10), '  alert("x&amp;y")', chr(10),
        |  '}</script></head>',
        |  '<body><!-- nav > main,', chr(10), ' <b>skip me</b>', chr(10),
        |  ' --><h1>Heading ', doc_id % 7,
        |  '</h1><p>', text,
        |  '</p><div class="x">tail &amp;co &lt;b&gt;bold&lt;/b&gt; ',
        |  '&quot;q&quot; &#39;a&#39;</div></body></html>')""".stripMargin
    Tables.documents(spark, dir)
      .select(col("doc_id"), expr(raw).as("html"))
      .withColumn("noscript", expr(
        "regexp_replace(regexp_replace(regexp_replace(html, " +
          "'(?s)<!--.*?-->', ' '), " +
          "'(?s)<script[^>]*>.*?</script>', ' '), " +
          "'(?s)<style[^>]*>.*?</style>', ' ')"))
      .withColumn("notags", expr(
        "regexp_replace(noscript, '<[^>]+>', ' ')"))
      .withColumn("decoded", expr(
        "replace(replace(replace(replace(replace(notags, " +
          "'&lt;', '<'), '&gt;', '>'), '&quot;', '\\\"'), " +
          "'&#39;', \"'\"), '&amp;', '&')"))
      .withColumn("text_clean", expr(
        "trim(regexp_replace(decoded, ' +', ' '))"))
      .select(col("doc_id"), length(col("html")).as("n_raw"),
        col("text_clean"), length(col("text_clean")).as("n_clean"))
  }

  val qHtmlExtractSql: String =
    """WITH raw AS (
      |  SELECT doc_id, concat('<html><head><title>Doc ', doc_id,
      |    '</title><style>.c{color:red}', chr(10), '.d{margin:0}</style>',
      |    '<script>if(1&lt;2){', chr(10), '  alert("x&amp;y")', chr(10),
      |    '}</script></head>',
      |    '<body><!-- nav > main,', chr(10), ' <b>skip me</b>', chr(10),
      |    ' --><h1>Heading ',
      |    doc_id % 7, '</h1><p>', text,
      |    '</p><div class="x">tail &amp;co &lt;b&gt;bold&lt;/b&gt; ',
      |    '&quot;q&quot; &#39;a&#39;</div></body></html>') AS html
      |  FROM documents),
      |stripped AS (
      |  SELECT doc_id, html,
      |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
      |      '(?s)<!--.*?-->', ' ', 'g'),
      |      '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
      |      '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
      |      '<[^>]+>', ' ', 'g')
      |      AS notags
      |  FROM raw),
      |decoded AS (
      |  SELECT doc_id, html,
      |    replace(replace(replace(replace(replace(notags,
      |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
      |      '&#39;', chr(39)), '&amp;', '&') AS dec
      |  FROM stripped)
      |SELECT doc_id, CAST(length(html) AS INT) AS n_raw,
      |  trim(regexp_replace(dec, ' +', ' ', 'g')) AS text_clean,
      |  CAST(length(trim(regexp_replace(dec, ' +', ' ', 'g'))) AS INT)
      |    AS n_clean
      |FROM decoded""".stripMargin

  /** Wikitext → plain text — the wiki sibling of [[qHtmlExtract]]:
    * every pretraining mix carries a Wikipedia slice, and this is the
    * transform between [[graft.sources.WikiXml]]'s page text and the
    * text operators. Canonical rule chain, identical in both engines
    * but implemented independently (Spark Column API vs DuckDB SQL):
    * comments, `<ref>` blocks, then ITERATED innermost-first removal —
    * templates `{{…}}` (nested: 5 rounds), tables `{|…|}`, and a
    * 3-round link trio where each round first drops bracket-free
    * NAMESPACED links (`[[File:…]]`, `[[Catégorie:…]]`), then
    * rewrites piped links to their display text, then plain links to
    * their target — so a caption's inner link resolves in round k and
    * its File wrapper dies in round k+1, caption and all. External
    * `[url label]` keeps the label; leftover tags strip; apostrophe
    * bold/italic runs drop; heading `==` runs drop; the five
    * predefined entities decode AFTER tag-stripping (amp last);
    * whitespace collapses. Per-doc synthetic wikitext wraps the
    * corpus text by the same deterministic formula in both engines —
    * nested template, File link with an embedded piped link in its
    * caption, table, category, external link, MULTI-LINE ref and
    * MULTI-LINE comment (the comment/ref regexes run DOTALL `(?s)`;
    * the template/table/link patterns use negated char classes and
    * match newlines by construction), heading, entity trailer. Pure
    * per-row regexp chains — codegen'd, no shuffle; at 100 TB this is
    * a scan-stage transform. */
  def qWikitextClean(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Column
    val id = col("doc_id").cast("string")
    val raw: Column = concat(
      lit("{{Infobox ville|nom=Doc "), id,
      lit("|taille={{small|"), (col("doc_id") % 5).cast("string"),
      lit("}}}}\n== Présentation ==\n'''Doc "),
      id, lit("''' est une ''entrée''<ref name=\"s\">source &amp;\n détails</ref> du corpus.\n[[File:Carte "),
      (col("doc_id") % 7).cast("string"),
      lit(".png|thumb|Légende avec [[lien interne|texte]]]]\n"),
      col("text"),
      lit("\nVoir [[bassin arachidier|le bassin]] et [[Dakar]]. Site: [https://x.test/p?id="),
      id, lit(" site officiel]\n<!-- commentaire\n <b>caché</b>\n sur deux lignes -->\n{| class=\"wikitable\"\n|-\n| a || b\n|}\n[[Catégorie:Sénégal]] &lt;fin&gt; &amp;co"))
    val c = graft.operators.TextOps.wikitextClean(raw)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .select(col("doc_id"), length(raw).as("n_raw"), c.as("text_clean"))
      .withColumn("n_clean", length(col("text_clean")))
  }

  /** DuckDB mirror of [[graft.operators.TextOps.wikitextClean]],
    * parameterized by a source SELECT yielding (k, w) — shared by the
    * synthetic-corpus and real-dump wiki-clean oracles so the two
    * rule sets cannot fork. */
  def wikitextCleanSqlFor(src: String, keyAlias: String): String = {
    val linkRound =
      """regexp_replace(regexp_replace(regexp_replace(c,
        |    '\[\[[^\[\]|:]*:[^\[\]]*\]\]', ' ', 'g'),
        |    '\[\[[^\[\]|]*\|([^\[\]]*)\]\]', '\1', 'g'),
        |    '\[\[([^\[\]|]*)\]\]', '\1', 'g')""".stripMargin
    raw"""WITH raw AS ($src),
      |s1 AS (SELECT k, w,
      |  regexp_replace(regexp_replace(regexp_replace(w,
      |    '(?s)<!--.*?-->', ' ', 'g'),
      |    '<ref[^>]*/>', ' ', 'g'),
      |    '(?s)<ref[^>]*>.*?</ref>', ' ', 'g') AS c FROM raw),
      |s2 AS (SELECT k, w,
      |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |  regexp_replace(c,
      |    '\{\{[^{}]*\}\}', ' ', 'g'), '\{\{[^{}]*\}\}', ' ', 'g'),
      |    '\{\{[^{}]*\}\}', ' ', 'g'), '\{\{[^{}]*\}\}', ' ', 'g'),
      |    '\{\{[^{}]*\}\}', ' ', 'g') AS c FROM s1),
      |s3 AS (SELECT k, w,
      |  regexp_replace(regexp_replace(c,
      |    '\{\|[^{}]*\|\}', ' ', 'g'), '\{\|[^{}]*\|\}', ' ', 'g')
      |    AS c FROM s2),
      |l1 AS (SELECT k, w, $linkRound AS c FROM s3),
      |l2 AS (SELECT k, w, $linkRound AS c FROM l1),
      |l3 AS (SELECT k, w, $linkRound AS c FROM l2),
      |s4 AS (SELECT k, w,
      |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |  regexp_replace(c,
      |    '\[https?://[^ \]]* ([^\]]*)\]', '\1', 'g'),
      |    '\[https?://[^\]]*\]', ' ', 'g'),
      |    '<[^>]+>', ' ', 'g'),
      |    repeat(chr(39),2) || '+', '', 'g'),
      |    '==+', ' ', 'g') AS c FROM l3),
      |s5 AS (SELECT k, w,
      |  replace(replace(replace(replace(replace(c,
      |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
      |    '&#39;', chr(39)), '&amp;', '&') AS c FROM s4)
      |SELECT k AS $keyAlias, CAST(length(w) AS INT) AS n_raw,
      |  trim(regexp_replace(c, '\s+', ' ', 'g')) AS text_clean,
      |  CAST(length(trim(regexp_replace(c, '\s+', ' ', 'g'))) AS INT)
      |    AS n_clean
      |FROM s5""".stripMargin
  }

  val qWikitextCleanSql: String = wikitextCleanSqlFor(
    """SELECT doc_id AS k, concat('{{Infobox ville|nom=Doc ', doc_id,
      |    '|taille={{small|', doc_id % 5, '}}}}', chr(10),
      |    '== Présentation ==', chr(10), repeat(chr(39),3), 'Doc ', doc_id,
      |    repeat(chr(39),3), ' est une ', repeat(chr(39),2), 'entrée',
      |    repeat(chr(39),2), '<ref name="s">source &amp;', chr(10),
      |    ' détails</ref>',
      |    ' du corpus.', chr(10), '[[File:Carte ', doc_id % 7,
      |    '.png|thumb|Légende avec [[lien interne|texte]]]]', chr(10),
      |    text, chr(10),
      |    'Voir [[bassin arachidier|le bassin]] et [[Dakar]].',
      |    ' Site: [https://x.test/p?id=', doc_id, ' site officiel]',
      |    chr(10), '<!-- commentaire', chr(10), ' <b>caché</b>',
      |    chr(10), ' sur deux lignes -->', chr(10),
      |    '{| class="wikitable"', chr(10), '|-', chr(10), '| a || b',
      |    chr(10), '|}', chr(10),
      |    '[[Catégorie:Sénégal]] &lt;fin&gt; &amp;co') AS w
      |  FROM documents""".stripMargin, "doc_id")

  /** Unicode normalization — the step BEFORE every dedup hash (CCNet/
    * Dolma/C4 all normalize first: "café" spelled precomposed and
    * with a combining acute must hash identically or exact-dedup
    * silently misses). Spark has no built-in normalizer, so
    * `unicode_nfc` / `strip_accents` are native codegen'd Catalyst
    * expressions ([[graft.expressions.UnicodeNorm]], injected via
    * GraftExtensions) over `java.text.Normalizer`; DuckDB's
    * `nfc_normalize` / `strip_accents` come from utf8proc — two
    * INDEPENDENT Unicode implementations that must agree byte-for-
    * byte over the fixture's combining zoo (acute, diaeresis, tilde,
    * cedilla, multi-mark stacks) or the hash flips. The fold chain is
    * the canonical dedup key: strip_accents(lower(nfc(s))). Per-row
    * scalar work — codegen'd, no shuffle; at 100 TB this runs inside
    * the scan stage of every dedup pass. */
  def qUnicodeNorm(spark: SparkSession, dir: String): DataFrame = {
    // combining sequences spelled as explicit escapes: a source-file
    // normalization pass would otherwise silently precompose them and
    // the fixture would stop exercising composition
    val dirty = concat(col("text"),
      lit(" caf"), lit("e\u0301"), // e + combining acute
      lit(" u\u0308ber ga\u0303o"), // u + diaeresis, a + tilde
      lit(" c\u0327a"), // c + cedilla
      lit(" e\u0301\u0327tude"), // stacked marks, wrong canonical order
      lit(" d\u00e9j\u00e0 vu")) // precomposed for contrast
    Tables.documents(spark, dir)
      .select(col("doc_id"), dirty.as("dirty"))
      .withColumn("nfc", expr("unicode_nfc(dirty)"))
      .withColumn("folded", expr("strip_accents(lower(nfc))"))
      .select(col("doc_id"),
        length(col("dirty")).as("n_dirty"),
        length(col("nfc")).as("n_nfc"),
        md5(col("nfc")).as("nfc_md5"),
        length(col("folded")).as("n_fold"),
        md5(col("folded")).as("fold_md5"))
  }

  val qUnicodeNormSql: String =
    """WITH d AS (
      |  SELECT doc_id, concat(text,
      |    ' caf', 'e', chr(769),
      |    ' u', chr(776), 'ber ga', chr(771), 'o',
      |    ' c', chr(807), 'a',
      |    ' e', chr(769), chr(807), 'tude',
      |    ' déjà vu') AS dirty
      |  FROM documents),
      |n AS (SELECT doc_id, dirty, nfc_normalize(dirty) AS nfc FROM d),
      |f AS (SELECT doc_id, dirty, nfc,
      |        strip_accents(lower(nfc)) AS folded FROM n)
      |SELECT doc_id,
      |  CAST(length(dirty) AS INT) AS n_dirty,
      |  CAST(length(nfc) AS INT) AS n_nfc,
      |  md5(nfc) AS nfc_md5,
      |  CAST(length(folded) AS INT) AS n_fold,
      |  md5(folded) AS fold_md5
      |FROM f""".stripMargin

  /** Sentence segmentation — the unit most quality filters operate on
    * (Gopher's sentence stats, NeMo-Curator's sentence-level dedup,
    * FineWeb's terminal-punctuation ratio all need sentence bounds
    * first). Canonical rule, identical in both engines: a sentence
    * STARTS at a non-space non-terminator and runs through its
    * trailing `[.!?]` run (`[^.!?\s][^.!?]*[.!?]*` — the final
    * fragment without a terminator is a sentence too), then trims.
    * The start anchor means matches are never empty, so sent_idx is
    * dense straight off the match array — no higher-order
    * filter/transform lambdas (those fall off whole-stage codegen;
    * measured in round 13), just regexp_extract_all + posexplode +
    * plain column functions. No shuffle; at 100 TB this is a
    * scan-stage generator feeding the per-sentence filters. */
  def qSentences(spark: SparkSession, dir: String): DataFrame = {
    // the synthetic corpus carries no punctuation — inject terminators
    // by the same deterministic formula in both engines so the
    // splitter has real multi-sentence structure to segment
    val punct = concat(
      regexp_replace(regexp_replace(regexp_replace(col("text"),
        " table ", ". Table "),
        " query ", "? Query "),
        " value ", "! Value "),
      lit("."))
    val matches =
      regexp_extract_all(punct, lit("[^.!?\\s][^.!?]*[.!?]*"), lit(0))
    Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(matches).as(Seq("sent_idx", "raw")))
      .select(col("doc_id"), col("sent_idx").cast("int").as("sent_idx"),
        trim(col("raw")).as("sent"))
      .select(col("doc_id"), col("sent_idx"), col("sent"),
        length(col("sent")).as("n_chars"),
        size(regexp_extract_all(col("sent"), lit("\\S+"), lit(0)))
          .as("n_toks"))
  }

  val qSentencesSql: String =
    """WITH p AS (
      |  SELECT doc_id,
      |    concat(regexp_replace(regexp_replace(regexp_replace(text,
      |      ' table ', '. Table ', 'g'),
      |      ' query ', '? Query ', 'g'),
      |      ' value ', '! Value ', 'g'), '.') AS punct
      |  FROM documents),
      |s AS (
      |  SELECT doc_id,
      |    regexp_extract_all(punct, '[^.!?\s][^.!?]*[.!?]*') AS sents
      |  FROM p),
      |u AS (
      |  SELECT doc_id,
      |    unnest(range(len(sents))) AS i,
      |    trim(unnest(sents)) AS sent
      |  FROM s)
      |SELECT doc_id, CAST(i AS INT) AS sent_idx, sent,
      |  CAST(length(sent) AS INT) AS n_chars,
      |  CAST(len(regexp_extract_all(sent, '\S+')) AS INT) AS n_toks
      |FROM u""".stripMargin

  /** Sentence-level exact dedup — the NeMo-Curator/Dolma pass that
    * removes boilerplate SENTENCES repeated across documents (nav
    * text, disclaimers, licence blurbs) where document-level dedup
    * sees distinct docs. Composes [[qSentences]]: explode to
    * sentences, group by the sentence's md5 (the 100 TB shape —
    * shuffle carries a 16-byte key + counts, never the text), keep
    * the first occurrence by (doc_id, sent_idx) encoded into one
    * orderable long, report copies and the tokens dedup would save.
    * One hash-keyed shuffle; map-side partial aggregation applies. */
  def qSentenceDedup(spark: SparkSession, dir: String): DataFrame = {
    val key = col("doc_id") * 1000000L + col("sent_idx")
    qSentences(spark, dir)
      .select(md5(col("sent")).as("sent_md5"), key.as("k"), col("n_toks"))
      .groupBy(col("sent_md5"))
      .agg(count(lit(1)).as("n_copies"), min(col("k")).as("keep_k"),
        first(col("n_toks")).as("toks"))
      .filter(col("n_copies") >= 2)
      .select(col("sent_md5"), col("n_copies"),
        expr("keep_k div 1000000").as("keep_doc"),
        (col("keep_k") % 1000000L).cast("int").as("keep_idx"),
        ((col("n_copies") - 1) * col("toks")).as("toks_saved"))
  }

  val qSentenceDedupSql: String = {
    val sentences = qSentencesSql
    s"""WITH sent AS ($sentences)
      |SELECT md5(sent) AS sent_md5,
      |  count(*) AS n_copies,
      |  CAST(min(doc_id * 1000000 + sent_idx) // 1000000 AS BIGINT)
      |    AS keep_doc,
      |  CAST(min(doc_id * 1000000 + sent_idx) % 1000000 AS INT) AS keep_idx,
      |  (count(*) - 1) * CAST(min(n_toks) AS BIGINT) AS toks_saved
      |FROM sent
      |GROUP BY md5(sent)
      |HAVING count(*) >= 2""".stripMargin
  }

  /** Edit-distance fuzzy near-dup join — the character-level member
    * of the dedup family (MinHash/SimHash are token/bit-level; OCR
    * noise, typo variants, and template drift show up as small edit
    * distances the shingle methods can miss). Declared predicate:
    * same lang, |n_chars difference| ≤ 25, and Levenshtein distance
    * of the 40-char lowercase prefixes ≤ 10, over ordered pairs.
    *
    * The engine never forms all pairs: candidates come from a keyed
    * equi-join on (lang, length-bucket) with the left side probing
    * buckets {b−1, b, b+1} — any pair within 25 chars of each other
    * lands in the same or adjacent floor(n_chars/25) buckets, so the
    * banding is COMPLETE for the declared predicate, and the DuckDB
    * oracle proves it by brute-forcing all same-lang pairs (the
    * q_simhash trick). A pair matches exactly one probe bucket, so
    * no dedup pass is needed. At 100 TB the bucket key keeps the
    * join shuffle-partitionable and the 3× probe fan-out is the
    * entire overhead; the O(40²) DP per candidate is the cost lever
    * the bucketing bounds. */
  def qFuzzyJoin(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        substring(lower(col("text")), 1, 40).as("prefix"),
        expr("n_chars div 25").as("b"))
    val probes = docs.withColumn("pb",
      explode(array(col("b") - 1, col("b"), col("b") + 1)))
    // threshold-banded DP (O(k·n) with early exit, returns -1 above the
    // bound) — ~8× cheaper than the full O(n²) distance on the ~99% of
    // candidates that miss; exact distance for every kept pair, so the
    // full-DP oracle still hash-matches.
    // (Measured dead end, round 13: a char-histogram counting filter
    // before the DP — ed >= L1/2, 85% prune at sf1 — was tried in two
    // forms and REMOVED: as array<int> + zip_with/aggregate it ran 2×
    // slower than no filter (higher-order lambdas evaluate off the
    // codegen path), and as 26 plain int columns it cost ~4 min of
    // cold Catalyst planning (constraint propagation through a join
    // over 26 column pairs) for a ~15% steady-state win. Round 14
    // tried a THIRD form — a single 64-bit charset mask per doc with
    // a codegen'd bit_count lower-bound filter per candidate — and it
    // measured 1.5× SLOWER at sf1 (23.8→35.7 s warm): the
    // threshold-banded DP with early exit is already cheaper than the
    // extra per-candidate work, i.e. the cost lever here is candidate
    // GENERATION (the bucket join itself), which no post-join filter
    // touches.)
    probes.as("a").join(docs.as("c"),
        col("a.lang") === col("c.lang") && col("a.pb") === col("c.b") &&
        col("a.doc_id") < col("c.doc_id"))
      .filter(abs(col("a.n_chars") - col("c.n_chars")) <= 25)
      .withColumn("ed", levenshtein(col("a.prefix"), col("c.prefix"), 10))
      .filter(col("ed") >= 0 && col("ed") <= 10)
      .select(col("a.doc_id").as("a_id"), col("c.doc_id").as("b_id"),
              col("ed"), col("a.lang").as("lang"))
  }

  val qFuzzyJoinSql: String =
    """SELECT a.doc_id AS a_id, c.doc_id AS b_id,
      |  levenshtein(substr(lower(a.text), 1, 40), substr(lower(c.text), 1, 40)) AS ed,
      |  a.lang AS lang
      |FROM documents a JOIN documents c
      |  ON a.lang = c.lang AND a.doc_id < c.doc_id
      |WHERE abs(a.n_chars - c.n_chars) <= 25
      |  AND levenshtein(substr(lower(a.text), 1, 40), substr(lower(c.text), 1, 40)) <= 10""".stripMargin

  /** Pointwise-mutual-information feature selection: the top-5 most
    * class-discriminative tokens per language by
    * PMI = ln(p(w|c) / p(w)), min count 20 — the vocabulary-pruning
    * step that picks the features a classifier like [[qNbLang]]
    * actually needs (and the same arithmetic as TF-IDF's rarity
    * weighting, but against class priors). Three keyed aggregations
    * (class-token, token, class totals) + a 1-row broadcast corpus
    * count; PMI is one quantized ln of an exact-integer ratio (the
    * q_bigram_lm rule); the per-class top-5 is a class-keyed window
    * with (pmiq DESC, w ASC) tie-break. */
  def qPmiTokens(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(spark, dir)
      .withColumn("t", expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
      .select(col("lang"), explode(col("t")).as("w"))
    val cw = toks.groupBy(col("lang"), col("w")).agg(count(lit(1)).as("cw"))
    // all three marginals derive from the vocabulary-sized (lang, w)
    // table (r19 opt) — one corpus-sized aggregation instead of four;
    // exact integer sums either way
    val cWord = cw.groupBy(col("w")).agg(sum(col("cw")).as("c_all"))
    val cTot = cw.groupBy(col("lang")).agg(sum(col("cw")).as("ct"))
    val n = cw.agg(sum(col("cw")).as("n_tot"))
    val wTop = Window.partitionBy(col("lang"))
      .orderBy(col("pmiq").desc, col("w").asc)
    cw.filter(col("cw") >= 20)
      .join(cWord, "w")
      .join(broadcast(cTot), "lang")
      .crossJoin(broadcast(n))
      .withColumn("pmiq",
        floor(log((col("cw").cast("double") * col("n_tot").cast("double")) /
            (col("ct").cast("double") * col("c_all").cast("double"))) * lit(1e9))
          .cast("long"))
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= 5)
      .select(col("lang"), col("rk"), col("w"), col("cw"), col("pmiq"))
  }

  val qPmiTokensSql: String =
    """WITH toks AS (
      |  SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
      |  FROM documents),
      |cw AS (SELECT lang, w, COUNT(*) AS cw FROM toks GROUP BY 1, 2),
      |cword AS (SELECT w, COUNT(*) AS c_all FROM toks GROUP BY 1),
      |ctot AS (SELECT lang, COUNT(*) AS ct FROM toks GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n_tot FROM toks),
      |scored AS (
      |  SELECT cw.lang, cw.w, cw.cw,
      |    CAST(FLOOR(ln(
      |        (CAST(cw.cw AS DOUBLE) * CAST(n.n_tot AS DOUBLE))
      |          / (CAST(ctot.ct AS DOUBLE) * CAST(cword.c_all AS DOUBLE))) * 1e9)
      |      AS BIGINT) AS pmiq
      |  FROM cw
      |  JOIN cword ON cword.w = cw.w
      |  JOIN ctot ON ctot.lang = cw.lang
      |  CROSS JOIN n
      |  WHERE cw.cw >= 20)
      |SELECT lang, rk, w, cw, pmiq FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
      |      ORDER BY pmiq DESC, w ASC) AS rk
      |  FROM scored)
      |WHERE rk <= 5""".stripMargin

  /** Gopher-style rule-based quality filter — the canonical
    * hand-written signal set (Gopher §A1.1, reused by Dolma/
    * RefinedWeb) a pretraining pipeline applies BEFORE any learned
    * classifier like [[qNbLang]]: per document, word count bounds,
    * mean word length bounds, alphabetic-word fraction, and stop-word
    * presence, plus the conjunction verdict. Thresholds adapted to
    * this corpus's word-count range (min 20 words vs Gopher's 50 —
    * the shape, not the constant, is the operator). All signals are
    * per-row integer/ratio arithmetic — a pure scan-side map, no
    * shuffle at all; at 100 TB this filter runs inside the ingest
    * scan and prunes before anything downstream pays for the row. */
  def qGopherRules(spark: SparkSession, dir: String): DataFrame = {
    val stop = Seq("the", "be", "to", "of", "and", "a", "in", "that")
    val stopHits = stop.map(w =>
      when(array_contains(col("t"), w), 1).otherwise(0)).reduce(_ + _)
    Tables.documents(spark, dir)
      .withColumn("t", expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
      .withColumn("wc", size(col("t")))
      .withColumn("alpha_chars", expr("aggregate(t, 0, (a, w) -> a + length(w))"))
      .withColumn("mean_wlen",
        when(col("wc") > 0, col("alpha_chars").cast("double") / col("wc").cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("stop_hits", stopHits)
      .withColumn("passes",
        col("wc") >= 20 && col("wc") <= 100000 &&
        col("mean_wlen") >= 3.0 && col("mean_wlen") <= 10.0 &&
        col("stop_hits") >= 2)
      .select(col("doc_id"), col("wc").cast("long").as("word_count"),
        col("mean_wlen"), col("stop_hits").cast("int").as("stop_hits"),
        col("passes"))
  }

  val qGopherRulesSql: String = {
    val stop = Seq("the", "be", "to", "of", "and", "a", "in", "that")
    val hits = stop.map(w =>
      s"CASE WHEN list_contains(t, '$w') THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH d AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS t
       |  FROM documents),
       |sig AS (
       |  SELECT doc_id, len(t) AS wc,
       |    list_sum(list_transform(t, w -> length(w))) AS alpha_chars,
       |    $hits AS stop_hits
       |  FROM d)
       |SELECT doc_id, CAST(wc AS BIGINT) AS word_count,
       |  CASE WHEN wc > 0 THEN CAST(alpha_chars AS DOUBLE) / CAST(wc AS DOUBLE)
       |       ELSE 0.0 END AS mean_wlen,
       |  CAST(stop_hits AS INT) AS stop_hits,
       |  (wc >= 20 AND wc <= 100000
       |    AND (CASE WHEN wc > 0 THEN CAST(alpha_chars AS DOUBLE) / CAST(wc AS DOUBLE)
       |              ELSE 0.0 END) >= 3.0
       |    AND (CASE WHEN wc > 0 THEN CAST(alpha_chars AS DOUBLE) / CAST(wc AS DOUBLE)
       |              ELSE 0.0 END) <= 10.0
       |    AND stop_hits >= 2) AS passes
       |FROM sig""".stripMargin
  }

  /** Zipf rank-frequency fit — log-log OLS slope over the corpus's
    * top-100 tokens: the distributional sanity check (natural text
    * slopes ≈ −1; template/boilerplate corpora flatten, spam
    * steepens) a curation pipeline runs per vintage. The top-100 is
    * a TakeOrderedAndProject (count DESC, token ASC — deterministic
    * ties), so the rank window runs over a BOUNDED 100-row set, not
    * the corpus; both ln() axes floor-quantize at 1e-6 (longs sized
    * so every OLS moment stays in range) and the closed-form slope/
    * intercept is a fixed integer-ratio IEEE sequence. */
  def qZipfFit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val top = Tables.documents(spark, dir)
      .select(explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w").asc).limit(100)
    // constant-by-construction (non-foldable) partition key = same
    // single-partition rank over the bounded 100-row top-k, minus
    // WindowExec's no-partition warning (see qVocabTopk: a literal
    // key is pruned by EliminateWindowPartitions)
    val ranked = top.withColumn("rank",
      row_number().over(Window.partitionBy(pmod(length(col("w")), lit(1)))
        .orderBy(col("c").desc, col("w").asc)))
    val pts = ranked
      .withColumn("x", floor(log(col("rank").cast("double")) * lit(1e6)).cast("long"))
      .withColumn("y", floor(log(col("c").cast("double")) * lit(1e6)).cast("long"))
    pts.agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .withColumn("slope",
        ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
         (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")))
      .withColumn("intercept",
        (col("sy").cast("double") -
          col("slope") * col("sx").cast("double")) / col("n").cast("double") / lit(1e6))
      .select(col("n"), col("slope"), col("intercept"))
  }

  val qZipfFitSql: String =
    """WITH ranked AS (
      |  SELECT w, c, ROW_NUMBER() OVER (ORDER BY c DESC, w ASC) AS rank
      |  FROM (SELECT w, COUNT(*) AS c FROM (
      |      SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
      |      FROM documents) GROUP BY w
      |    ORDER BY c DESC, w ASC LIMIT 100) ),
      |pts AS (
      |  SELECT CAST(FLOOR(ln(CAST(rank AS DOUBLE)) * 1e6) AS BIGINT) AS x,
      |         CAST(FLOOR(ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT) AS y
      |  FROM ranked),
      |s AS (
      |  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
      |         SUM(x * y) AS sxy, SUM(x * x) AS sxx
      |  FROM pts)
      |SELECT CAST(n AS BIGINT) AS n,
      |  CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
      |    AS slope,
      |  (CAST(sy AS DOUBLE)
      |     - (CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE))
      |       * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) / 1e6 AS intercept
      |FROM s""".stripMargin

  /** Prefix-filtered set-similarity self-join (All-Pairs/ppjoin,
    * Jaccard ≥ 0.9 over token SETS) — the third blocking discipline in
    * the near-dup family next to LSH banding (q_minhash_lsh) and
    * df-capped inverted shingles (q_ngram_jaccard): order the corpus
    * vocabulary rarest-first (df ASC, token ASC), keep only each
    * document's first |x| − ⌈0.9·|x|⌉ + 1 tokens in that order (the
    * ppjoin prefix), and generate candidates from the prefix-token
    * equi-join — any pair at Jaccard ≥ 0.9 MUST share a prefix token
    * (prefix-filter theorem), and the rarest-first order makes the
    * posting lists short. The verification is INTEGER-exact:
    * 10·|∩| ≥ 9·|∪| decides the threshold with no floating point.
    * ⌈0.9·|x|⌉ is exact rational arithmetic ((9·sz + 9) div 10) so the
    * prefix can never round one token short. The DuckDB oracle
    * brute-forces all pairs — a green hash PROVES the filter complete.
    * At 100 TB the prefix join is the only corpus-sized shuffle,
    * keyed on the (rare) prefix token.
    *
    * Fixture bound: this synthetic corpus has a CLOSED ~60-word
    * vocabulary, so token-set Jaccard ≥ 0.9 is DENSE (most pairs
    * qualify — at sf0.1 the true result is itself quadratic-sized)
    * and no blocking scheme can be output-sublinear. A real corpus's
    * open vocabulary keeps prefixes selective; here the declared
    * query bounds the slice (doc_id < 500, all of sf0.01) so the
    * benchmark measures the operator, not the fixture pathology —
    * the q_ewma bounded-slice precedent. */
  def qPrefixFilterJoin(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(spark, dir)
      .filter(col("doc_id") < 500)
      .select(col("doc_id"),
        explode(expr("array_distinct(regexp_extract_all(lower(text), '[a-z]+', 0))"))
          .as("w"))
    val dfc = toks.groupBy(col("w")).agg(count(lit(1)).as("dfc"))
    val sizes = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val wRank = Window.partitionBy(col("doc_id")).orderBy(col("dfc").asc, col("w").asc)
    val prefix = toks.join(dfc, "w").join(sizes, "doc_id")
      .withColumn("trk", row_number().over(wRank))
      .withColumn("p", col("sz") - expr("(9 * sz + 9) div 10") + 1)
      .filter(col("trk") <= col("p"))
      .select(col("doc_id"), col("w"))
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.w") === col("b.w") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    val sets = toks.groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("w"))).as("ts"), count(lit(1)).as("sz"))
    cand
      .join(sets.select(col("doc_id").as("a_id"), col("ts").as("ats"), col("sz").as("sza")), "a_id")
      .join(sets.select(col("doc_id").as("b_id"), col("ts").as("bts"), col("sz").as("szb")), "b_id")
      .withColumn("inter", size(array_intersect(col("ats"), col("bts"))).cast("long"))
      .filter(lit(10L) * col("inter") >= lit(9L) * (col("sza") + col("szb") - col("inter")))
      .select(col("a_id"), col("b_id"), col("inter"), col("sza"), col("szb"))
  }

  val qPrefixFilterJoinSql: String =
    """WITH toks AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
      |  FROM documents WHERE doc_id < 500),
      |sets AS (
      |  SELECT doc_id, list_sort(list(w)) AS ts, COUNT(*) AS sz
      |  FROM toks GROUP BY 1)
      |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |  CAST(len(list_intersect(a.ts, b.ts)) AS BIGINT) AS inter,
      |  a.sz AS sza, b.sz AS szb
      |FROM sets a JOIN sets b ON a.doc_id < b.doc_id
      |WHERE 10 * len(list_intersect(a.ts, b.ts))
      |  >= 9 * (a.sz + b.sz - len(list_intersect(a.ts, b.ts)))""".stripMargin

  /** Outer generator semantics (`explode_outer` / LATERAL ... ON TRUE):
    * documents whose long-word list is EMPTY survive the explode as a
    * NULL row instead of vanishing — the left-join-shaped generator a
    * feature extractor needs when "no match" is itself a signal (the
    * plain explode silently drops those documents and skews any
    * downstream rate). Grouping keeps the NULL bucket visible: one
    * row per long word + one row for the no-long-word documents. */
  def qExplodeOuter(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .withColumn("longw",
        expr("filter(regexp_extract_all(lower(text), '[a-z]+', 0), w -> length(w) >= 8)"))
      .select(col("doc_id"), explode_outer(col("longw")).as("w"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("n_docs"))
  }

  val qExplodeOuterSql: String =
    """WITH lw AS (
      |  SELECT doc_id,
      |    list_filter(regexp_extract_all(lower(text), '[a-z]+'),
      |                w -> length(w) >= 8) AS longw
      |  FROM documents),
      |exploded AS (
      |  SELECT doc_id, CASE WHEN len(longw) = 0 THEN NULL ELSE u.w END AS w
      |  FROM lw LEFT JOIN LATERAL (SELECT unnest(longw) AS w) u ON TRUE)
      |SELECT w, COUNT(*) AS n,
      |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
      |FROM exploded GROUP BY w""".stripMargin

  /** Entity resolution end-to-end — the composite the dedup family
    * exists for: character-level near-dup PAIRS (the q_fuzzy_join
    * banded Levenshtein predicate) close into CLUSTERS (GraphOps
    * connected components, the q_dup_clusters fixpoint), and each
    * cluster elects a CANONICAL record (longest text, doc_id
    * tie-break) — merge survivors plus their member count, the
    * master-data table an ER pipeline emits. One declarative chain:
    * banded pair join → O(rounds) keyed CC → per-cluster argmax
    * window. The oracle recomputes the same chain from the
    * brute-force pair predicate and a recursive-CTE closure — any
    * divergence in pairs, clustering, or election flips the hash. */
  def qEntityResolution(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = qFuzzyJoin(spark, dir).select(col("a_id"), col("b_id"))
    // star CC (O(log n) rounds + base materialization so the banded
    // fuzzy join runs once, not once per consumer) — same (id, lbl)
    // min-label contract as the label-prop engine, measurably faster
    // on the replica-clique graphs an ER corpus produces at scale
    val labels = graft.operators.GraphOps.connectedComponentsStar(pairs, "a_id", "b_id")
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("n_chars"))
    val members = labels.select(col("id").as("doc_id"), col("lbl").as("cluster_rep"))
      .join(docs, "doc_id")
    val w = Window.partitionBy(col("cluster_rep"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    members.withColumn("rk", row_number().over(w))
      .groupBy(col("cluster_rep"))
      .agg(count(lit(1)).as("n_members"),
        min(when(col("rk") === 1, col("doc_id"))).as("canonical_doc"),
        min(when(col("rk") === 1, col("n_chars"))).as("canonical_len"))
  }

  val qEntityResolutionSql: String =
    """WITH RECURSIVE pairs AS (
      |  SELECT a.doc_id AS a_id, c.doc_id AS b_id
      |  FROM documents a JOIN documents c
      |    ON a.lang = c.lang AND a.doc_id < c.doc_id
      |  WHERE abs(a.n_chars - c.n_chars) <= 25
      |    AND levenshtein(substr(lower(a.text), 1, 40),
      |                    substr(lower(c.text), 1, 40)) <= 10),
      |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
      |          UNION SELECT b_id, a_id FROM pairs),
      |nodes AS (SELECT DISTINCT src AS id FROM edges),
      |reach AS (
      |  SELECT id, id AS lbl FROM nodes
      |  UNION
      |  SELECT e.dst AS id, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
      |cl AS (SELECT id AS doc_id, MIN(lbl) AS cluster_rep FROM reach GROUP BY 1),
      |m AS (
      |  SELECT cl.cluster_rep, cl.doc_id, d.n_chars,
      |    ROW_NUMBER() OVER (PARTITION BY cl.cluster_rep
      |      ORDER BY d.n_chars DESC, cl.doc_id ASC) AS rk
      |  FROM cl JOIN documents d ON d.doc_id = cl.doc_id)
      |SELECT cluster_rep, COUNT(*) AS n_members,
      |  MIN(CASE WHEN rk = 1 THEN doc_id END) AS canonical_doc,
      |  MIN(CASE WHEN rk = 1 THEN n_chars END) AS canonical_len
      |FROM m GROUP BY cluster_rep""".stripMargin

  /** robots.txt rules, oracle-graded per parsed line — RFC 9309:
    * stacked User-agent lines opening one group, allow/disallow/
    * crawl-delay attaching to it, global Sitemap lines (agent ""),
    * comments, case-insensitive directives, garbage tolerated. One
    * row per (rule × group agent); fixtures hand-written in
    * tools/robots_golden.py. */
  def qRobotsRules(spark: SparkSession): DataFrame =
    robotsRules(spark)
      .select(col("host"), col("agent"), col("verb"), col("value"),
        col("seq"))

  /** Parsed rules shared by both robots queries. Matching happens in
    * the native `robots_match` expression downstream, so no regexes
    * are carried here. */
  private def robotsRules(spark: SparkSession): DataFrame =
    GeoIngest.Format("*.txt",
      GeoIngest.decodeFiles(_, "host", "agent", "verb", "value", "seq") { (file, bytes) =>
        val host = file.stripSuffix(".txt")
        graft.sources.RobotsCodec
          .parse(new String(bytes,
            java.nio.charset.StandardCharsets.UTF_8))
          .map(r => (host, r.agent, r.verb, r.value, r.seq))
      }).read(spark, graft.Fixtures.path("q_robots_rules"))

  val qRobotsRulesSql: String =
    s"""SELECT host, agent, verb, value, seq
      |FROM read_parquet('${graft.Fixtures.Root}/q_robots_rules/golden/*.parquet')""".stripMargin

  /** Per-URL robots decisions, oracle-graded — the RFC 9309 matcher
    * AS A JOIN, which is its 100 TB shape: per-host rules are bounded
    * (the RFC caps robots.txt at 500 KiB) and broadcast; the URL side
    * is the big table and is touched EXACTLY ONCE — one broadcast
    * hash join fanning each URL out to its selected group's rules,
    * then ONE aggregation taking `max(struct(len, is_allow, value))`
    * over the matching rules (longest pattern wins, allow beats
    * disallow on ties; no match → allowed). Group selection (exact
    * agent beats `*`) is resolved entirely on the BOUNDED rules side
    * before the URL table enters the plan — the round-15 review found
    * the previous shape broadcasting per-(host,agent,path) aggregates
    * of the URL table itself, a driver-OOM at corpus scale. Pattern
    * matching is the native `robots_match` expression (no per-row
    * regex compilation). graftbot exercises group override; crawlzilla
    * (unknown agent) falls to `*` where the wildcard/anchor rules
    * live. Golden decisions come from an independent Python matcher.
    * PlanQualitySpec pins that no URL-derived relation is broadcast.
    * q_robots_filter_scale measures this same plan's decade exponent
    * over an events-derived URL corpus. */
  def qRobotsFilter(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val urls = spark.read.option("sep", "\t")
      .csv(graft.Fixtures.path("q_robots_filter") + "/urls.txt")
      .toDF("host", "path")
    val agents = Seq("graftbot", "crawlzilla").toDF("agent")
    val rules = robotsRules(spark)
      .filter(col("verb").isin("allow", "disallow"))
      .select(col("host").as("rhost"), col("agent").as("ragent"),
        when(col("verb") === "allow", 1).otherwise(0).as("is_allow"),
        col("value"))
    robotsDecide(urls, agents, rules)
  }

  /** The RFC 9309 decision join over an arbitrary URL table: rules-
    * side group selection (bounded), one broadcast join, one
    * aggregation. Shared by the fixture-graded q_robots_filter and
    * the corpus-scale q_robots_filter_scale. `rules` must carry
    * (rhost, ragent, is_allow, value) and be bounded (broadcastable). */
  private def robotsDecide(urls: DataFrame, agents: DataFrame,
      rules: DataFrame): DataFrame = {
    // group selection on the BOUNDED side: for each (host, crawl
    // agent), pick the exact-agent group when one exists, else '*',
    // and attach that group's rules — hosts × agents × rules-per-host,
    // all bounded by the RFC's 500 KiB cap, safe to broadcast.
    val hostGroups = rules.select(col("rhost"), col("ragent")).distinct()
    val selGroup = hostGroups.join(agents,
        col("ragent") === col("agent") || col("ragent") === lit("*"))
      .groupBy(col("rhost"), col("agent"))
      .agg(coalesce(
        max(when(col("ragent") === col("agent"), col("ragent"))),
        max(when(col("ragent") === lit("*"), col("ragent"))))
        .as("selg"))
    val selRules = selGroup.join(rules.withColumnRenamed("ragent", "selg"),
        Seq("rhost", "selg"))
      .select(col("rhost").as("host"), col("agent"),
        col("is_allow"), col("value"))
    // URL side enters ONCE: crossJoin with the 2-row agent grid, one
    // broadcast hash join to the selected rules, one aggregation.
    // max(struct) ignores the null the `when` yields for non-matching
    // rules, so "no rule matched" and "host has no rules" both fall
    // through to the allowed default without a rejoin.
    urls.crossJoin(broadcast(agents)) // bounded 2-agent grid
      .join(broadcast(selRules), Seq("host", "agent"), "left")
      .groupBy(col("host"), col("agent"), col("path"))
      .agg(max(when(expr("robots_match(path, value)"),
        struct(length(col("value")).as("l"),
          col("is_allow").as("a"), col("value").as("v")))).as("b"))
      .select(col("host"), col("agent"), col("path"),
        coalesce(col("b.a"), lit(1)).as("allowed"),
        coalesce(col("b.v"), lit("")).as("rule"))
  }

  val qRobotsFilterSql: String =
    s"""SELECT host, agent, path, allowed, rule
      |FROM read_parquet('${graft.Fixtures.Root}/q_robots_filter/golden/*.parquet')""".stripMargin

  /** Corpus-scale robots decision join, SF-scaled so ScaleBenchSpec
    * measures its decade exponent (the round-15 review noted both new
    * decision joins were fixture-pinned, leaving their scale claims
    * argued rather than measured). Same plan as q_robots_filter —
    * [[robotsDecide]]: bounded-side group selection, one broadcast
    * hash join, one aggregation — but the URL side derives from the
    * `events` table (host from user_id, path from event_type ×
    * event_id, a `.pdf` arm for the wildcard-anchor rules) and the
    * rule set is a deterministic 7-host synthetic grid exercising
    * prefix rules, longest-match override, allow-on-tie, `*`
    * wildcards, `$` anchors, and exact-agent group override on even
    * hosts only. Fully oracle-expressible: robots patterns here avoid
    * literal `%`/`_`, so each translates exactly to a SQL LIKE
    * pattern (`*`→`%`, unanchored→trailing `%`). */
  def qRobotsFilterScale(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val urls = Tables.events(spark, dir).select(
      concat(lit("host-"), pmod(col("user_id"), lit(7))).as("host"),
      concat(lit("/"), col("event_type"), lit("/p"),
        pmod(col("event_id"), lit(100)),
        when(pmod(col("event_id"), lit(10)) === 0, lit(".pdf"))
          .otherwise(lit(""))).as("path"))
    val agents = Seq("graftbot", "crawlzilla").toDF("agent")
    // (agent, is_allow, pattern, evenHostsOnly) — the graftbot group
    // exists only on even hosts, so odd hosts exercise the `*`
    // fallback for a known agent
    val ruleDefs = Seq(
      ("*", 0, "/click", false),
      ("*", 1, "/click/p1", false),
      ("*", 0, "/*.pdf$", false),
      ("*", 0, "/purchase", false),
      ("*", 1, "/purchase/p7$", false),
      ("*", 1, "/signup/p3", false),
      ("*", 0, "/signup/p3", false), // identical pattern: allow wins tie
      ("graftbot", 0, "/view", true),
      ("graftbot", 1, "/view/p2", true),
      ("graftbot", 0, "/error/*.pdf$", true)
    ).toDF("ragent", "is_allow", "value", "even_only")
    val rules = spark.range(7).select(col("id").cast("int").as("h"))
      .crossJoin(broadcast(ruleDefs)) // bounded 7×10 grid generator
      .filter(!col("even_only") || col("h") % 2 === 0)
      .select(concat(lit("host-"), col("h")).as("rhost"),
        col("ragent"), col("is_allow"), col("value"))
    robotsDecide(urls, agents, rules)
  }

  val qRobotsFilterScaleSql: String =
    """WITH urls AS (
      |  SELECT 'host-' || (user_id % 7) AS host,
      |         '/' || event_type || '/p' || (event_id % 100) ||
      |         (CASE WHEN event_id % 10 = 0 THEN '.pdf' ELSE '' END) AS path
      |  FROM events),
      |agents AS (SELECT unnest(['graftbot','crawlzilla']) AS agent),
      |rules AS (
      |  SELECT 'host-' || h AS rhost, r.ragent, r.is_allow, r.value, r.lpat
      |  FROM range(7) t(h)
      |  CROSS JOIN (VALUES
      |    ('*', 0, '/click', '/click%', 0),
      |    ('*', 1, '/click/p1', '/click/p1%', 0),
      |    ('*', 0, '/*.pdf$', '/%.pdf', 0),
      |    ('*', 0, '/purchase', '/purchase%', 0),
      |    ('*', 1, '/purchase/p7$', '/purchase/p7', 0),
      |    ('*', 1, '/signup/p3', '/signup/p3%', 0),
      |    ('*', 0, '/signup/p3', '/signup/p3%', 0),
      |    ('graftbot', 0, '/view', '/view%', 1),
      |    ('graftbot', 1, '/view/p2', '/view/p2%', 1),
      |    ('graftbot', 0, '/error/*.pdf$', '/error/%.pdf', 1)
      |  ) r(ragent, is_allow, value, lpat, even_only)
      |  WHERE r.even_only = 0 OR h % 2 = 0),
      |sel AS (
      |  SELECT g.rhost, a.agent,
      |    coalesce(max(CASE WHEN g.ragent = a.agent THEN g.ragent END),
      |             max(CASE WHEN g.ragent = '*' THEN g.ragent END)) AS selg
      |  FROM (SELECT DISTINCT rhost, ragent FROM rules) g
      |  JOIN agents a ON g.ragent = a.agent OR g.ragent = '*'
      |  GROUP BY 1, 2),
      |selrules AS (
      |  SELECT s.rhost AS host, s.agent, r.is_allow, r.value, r.lpat
      |  FROM sel s JOIN rules r ON r.rhost = s.rhost AND r.ragent = s.selg),
      |dec AS (
      |  SELECT u.host, a.agent, u.path,
      |    max(CASE WHEN u.path LIKE sr.lpat THEN
      |      {'l': length(sr.value), 'a': sr.is_allow, 'v': sr.value} END) AS b
      |  FROM urls u
      |  CROSS JOIN agents a
      |  LEFT JOIN selrules sr ON sr.host = u.host AND sr.agent = a.agent
      |  GROUP BY 1, 2, 3)
      |SELECT host, agent, path,
      |  coalesce(b.a, 1) AS allowed, coalesce(b.v, '') AS rule
      |FROM dec""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_robots_filter_scale" -> (qRobotsFilterScale _),
    "q_entity_resolution" -> (qEntityResolution _),
    "q_explode_outer" -> (qExplodeOuter _),
    "q_prefix_filter_join" -> (qPrefixFilterJoin _),
    "q_gopher_rules" -> (qGopherRules _),
    "q_zipf_fit" -> (qZipfFit _),
    "q_pmi_tokens" -> (qPmiTokens _),
    "q_fuzzy_join" -> (qFuzzyJoin _),
    "q_url_normalize" -> (qUrlNormalize _),
    "q_html_extract" -> (qHtmlExtract _),
    "q_wikitext_clean" -> (qWikitextClean _),
    "q_unicode_norm" -> (qUnicodeNorm _),
    "q_sentences" -> (qSentences _),
    "q_sentence_dedup" -> (qSentenceDedup _),
    "q_bigram_lm" -> (qBigramLm _),
    "q_cms_guarantee" -> (qCmsGuarantee _),
    "q_feature_hash" -> (qFeatureHash _),
    "q_bpe_merges" -> (qBpeMerges _),
    "q_bpe_apply" -> (qBpeApply _),
    "q_bpe_train" -> (qBpeTrain _),
    "q_bpe_train_tokens" -> (qBpeTrainTokens _),
    "q_bpe_train_scale" -> (qBpeTrainScale _),
    "q_bpe_train_32k" -> (qBpeTrain32k _),
    "q_heavy_hitters" -> (qHeavyHitters _),
    "q_chunk_overlap" -> (qChunkOverlap _),
    "q_data_mixture" -> (qDataMixture _),
    "q_corpus_curation" -> (qCorpusCuration _),
    "q_pack_sequences" -> (qPackSequences _),
    "q_token_stats" -> (qTokenStats _),
    "q_quality_score" -> (qQualityScore _),
    "q_lang_id" -> (qLangId _),
    "q_fingerprint" -> (qFingerprint _),
    "q_pii_scan" -> (qPiiScan _),
    "q_repetition" -> (qRepetition _),
    "q_dedup_exact" -> (qDedupExact _),
    "q_dedup_keep" -> (qDedupKeep _),
    "q_ngram_jaccard" -> (qNgramJaccard _),
    "q_minhash_lsh" -> (qMinhashLsh _),
    "q_minhash_lsh_xx" -> (qMinhashLshXx _),
    "q_dup_clusters" -> (qDupClusters _),
    "q_dup_clusters_star" -> (qDupClustersStar _),
    "q_simhash" -> (qSimhash _),
    "q_vocab_topk" -> (qVocabTopk _),
    "q_decontaminate" -> (qDecontaminate _),
    "q_span_dedup" -> (qSpanDedup _),
  )

  /** Queries whose input does not scale with SF ([[graft.SparkEntry.fixedInput]]). */
  val fixedInput: Map[String, SparkSession => DataFrame] = Map(
    "q_robots_rules" -> (qRobotsRules _),
    "q_robots_filter" -> (qRobotsFilter _),
  )

  val oracle: Map[String, String] = Map(
    "q_robots_rules" -> qRobotsRulesSql,
    "q_robots_filter" -> qRobotsFilterSql,
    "q_robots_filter_scale" -> qRobotsFilterScaleSql,
    "q_entity_resolution" -> qEntityResolutionSql,
    "q_explode_outer" -> qExplodeOuterSql,
    "q_prefix_filter_join" -> qPrefixFilterJoinSql,
    "q_gopher_rules" -> qGopherRulesSql,
    "q_zipf_fit" -> qZipfFitSql,
    "q_pmi_tokens" -> qPmiTokensSql,
    "q_fuzzy_join" -> qFuzzyJoinSql,
    "q_url_normalize" -> qUrlNormalizeSql,
    "q_html_extract" -> qHtmlExtractSql,
    "q_wikitext_clean" -> qWikitextCleanSql,
    "q_unicode_norm" -> qUnicodeNormSql,
    "q_sentences" -> qSentencesSql,
    "q_sentence_dedup" -> qSentenceDedupSql,
    "q_bigram_lm" -> qBigramLmSql,
    "q_cms_guarantee" -> qCmsGuaranteeSql,
    "q_feature_hash" -> qFeatureHashSql,
    "q_bpe_merges" -> qBpeMergesSql,
    "q_bpe_apply" -> qBpeApplySql,
    "q_bpe_train" -> qBpeTrainSql,
    "q_bpe_train_tokens" -> qBpeTrainTokensSql,
    "q_bpe_train_scale" -> qBpeTrainScaleSql,
    "q_heavy_hitters" -> qHeavyHittersSql,
    "q_data_mixture" -> qDataMixtureSql,
    "q_corpus_curation" -> qCorpusCurationSql,
    "q_pack_sequences" -> qPackSequencesSql,
    "q_token_stats" -> qTokenStatsSql,
    "q_quality_score" -> qQualityScoreSql,
    "q_lang_id" -> qLangIdSql,
    "q_fingerprint" -> qFingerprintSql,
    "q_pii_scan" -> qPiiScanSql,
    "q_repetition" -> qRepetitionSql,
    "q_dedup_exact" -> qDedupExactSql,
    "q_dedup_keep" -> qDedupKeepSql,
    "q_ngram_jaccard" -> qNgramJaccardSql,
    "q_minhash_lsh" -> qMinhashLshSql,
    "q_minhash_lsh_xx" -> qMinhashLshXxSql,
    "q_dup_clusters" -> qDupClustersSql,
    "q_dup_clusters_star" -> qDupClustersSql,
    "q_simhash" -> qSimhashSql,
    "q_vocab_topk" -> qVocabTopkSql,
    "q_decontaminate" -> qDecontaminateSql,
    "q_span_dedup" -> qSpanDedupSql,
    "q_chunk_overlap" -> qChunkOverlapSql,
  )
}
