package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.functions.{QualityModel, Sampling, TextFns}
import graft.operators.{Bm25, Dedup}
import graft.sources.Tables

/** Text-analysis + deduplication over the `documents` table (SURVEY
  * §2.11, BASELINE.json north star: dedup, text analysis for
  * training-data pipelines).
  */
object TextQueries {

  private val Stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "on", "for")

  /** Exact dedup: keep min doc_id per content fingerprint, count copies.
    * One hash groupBy with map-side partials — and the group key is the
    * 16-byte md5, NOT the document text: grouping by text would shuffle
    * the full corpus at 100 TB, grouping by digest shuffles ~nothing. */
  val q23DedupExact = Q(
    "q23_dedup_exact",
    """SELECT min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS n_copies
      |FROM documents
      |GROUP BY md5(text)
      |ORDER BY keep_id""".stripMargin) { (spark, dir) =>
    Dedup.exactGroups(Tables.documents(spark, dir), md5(col("text")), col("doc_id"))
      .select(col("keep_id"), col("n_copies"))
      .orderBy(col("keep_id"))
  }

  /** Token counting (whitespace tokenizer) per language. */
  val q24TokenStats = Q(
    "q24_token_stats",
    """SELECT lang,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  round(avg(len(string_split_regex(lower(text), '\s+'))), 4) AS avg_tokens,
      |  CAST(max(len(string_split_regex(lower(text), '\s+'))) AS INT) AS max_tokens
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin) { (spark, dir) =>
    Tables.documents(spark, dir)
      .withColumn("n_tokens", TextFns.tokenCount(col("text")))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("n_tokens")), 4).as("avg_tokens"),
        max(col("n_tokens")).cast("int").as("max_tokens"))
      .orderBy(col("lang"))
  }

  /** Quality scoring + filter: keep docs by token count, punctuation
    * ratio and stopword ratio; count survivors per source. */
  val q25QualityFilter = Q(
    "q25_quality_filter",
    """WITH scored AS (
      |  SELECT source,
      |    len(string_split_regex(lower(text), '\s+')) AS n_tokens,
      |    CASE WHEN length(text) = 0 THEN 0.0
      |         ELSE CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
      |              / length(text) END AS punct_ratio,
      |    CASE WHEN len(string_split_regex(lower(text), '\s+')) = 0 THEN 0.0
      |         ELSE CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
      |                t -> list_contains(['the','a','of','and','to','in','is','on','for'], t)))
      |              AS DOUBLE) / len(string_split_regex(lower(text), '\s+')) END AS stop_ratio
      |  FROM documents)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
      |  round(avg(stop_ratio), 4) AS avg_stop_ratio
      |FROM scored
      |WHERE n_tokens BETWEEN 10 AND 5000 AND punct_ratio < 0.2 AND stop_ratio >= 0.02
      |GROUP BY source
      |ORDER BY source""".stripMargin) { (spark, dir) =>
    // tokens materialized ONCE, scores in a second projection: keeps the
    // expression tree small and stable (the single-expression form
    // re-inlines split() into every consumer — bench showed 10-100×
    // slower with high variance from codegen churn)
    Tables.documents(spark, dir)
      .select(col("source"), col("text"), TextFns.tokens(col("text")).as("toks"))
      .select(col("source"),
        size(col("toks")).as("n_tokens"),
        TextFns.punctRatio(col("text")).as("punct_ratio"),
        (TextFns.markerHits(col("toks"), Stopwords).cast("double") /
          greatest(size(col("toks")), lit(1))).as("stop_ratio"))
      .filter(col("n_tokens").between(10, 5000)
        && col("punct_ratio") < 0.2 && col("stop_ratio") >= 0.02)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), round(avg(col("stop_ratio")), 4).as("avg_stop_ratio"))
      .orderBy(col("source"))
  }

  /** Language-ID n-gram/marker heuristic: score each doc against
    * per-language marker lists, predict the argmax (deterministic
    * precedence on ties), report the confusion vs the labeled lang. */
  /** The shared language-ID scoring (q26 + q238): marker-token hit
    * counts per language and the argmax-with-ties-toward-en/es/fr
    * decision, identical in both dialects. `extraCols` ride along
    * (q238 keeps `source`). */
  private def langScored(docs: org.apache.spark.sql.DataFrame,
      extraCols: Seq[String]): org.apache.spark.sql.DataFrame = {
    val keep = extraCols.map(col) :+ col("lang")
    docs
      .select(keep :+ TextFns.tokens(col("text")).as("toks"): _*)
      .select(keep ++ Seq(
        TextFns.markerHits(col("toks"), Seq("the", "and", "of", "is")).as("s_en"),
        TextFns.markerHits(col("toks"), Seq("el", "la", "de", "que")).as("s_es"),
        TextFns.markerHits(col("toks"), Seq("le", "et", "un", "est")).as("s_fr"),
        TextFns.markerHits(col("toks"), Seq("der", "und", "die", "ist")).as("s_de")): _*)
      .withColumn("predicted",
        when(greatest(col("s_en"), col("s_es"), col("s_fr"), col("s_de")) === 0, "und")
          .when(col("s_en") >= greatest(col("s_es"), col("s_fr"), col("s_de")), "en")
          .when(col("s_es") >= greatest(col("s_fr"), col("s_de")), "es")
          .when(col("s_fr") >= col("s_de"), "fr")
          .otherwise("de"))
  }

  /** DuckDB twin of [[langScored]]: (t, scores) CTEs; `cols` are the
    * ride-along columns. */
  private def duckLangScoredCtes(cols: String): String =
    s"""t AS (SELECT $cols lang, string_split_regex(lower(text), '\\s+') AS toks FROM documents),
       |scores AS (
       |  SELECT $cols lang,
       |    len(list_filter(toks, x -> list_contains(['the','and','of','is'], x))) AS s_en,
       |    len(list_filter(toks, x -> list_contains(['el','la','de','que'], x))) AS s_es,
       |    len(list_filter(toks, x -> list_contains(['le','et','un','est'], x))) AS s_fr,
       |    len(list_filter(toks, x -> list_contains(['der','und','die','ist'], x))) AS s_de
       |  FROM t),
       |scored AS (
       |  SELECT $cols lang,
       |    CASE WHEN greatest(s_en, s_es, s_fr, s_de) = 0 THEN 'und'
       |         WHEN s_en >= greatest(s_es, s_fr, s_de) THEN 'en'
       |         WHEN s_es >= greatest(s_fr, s_de) THEN 'es'
       |         WHEN s_fr >= s_de THEN 'fr'
       |         ELSE 'de' END AS predicted
       |  FROM scores)""".stripMargin

  val q26LangId = Q(
    "q26_langid",
    s"""WITH ${duckLangScoredCtes("")}
      |SELECT lang, predicted, CAST(count(*) AS BIGINT) AS n
      |FROM scored
      |GROUP BY 1, 2
      |ORDER BY lang, predicted""".stripMargin) { (spark, dir) =>
    langScored(Tables.documents(spark, dir), Nil)
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("predicted"))
  }

  /** Content fingerprinting: md5 over normalized text; distinct
    * fingerprints and dup mass per source. */
  val q27Fingerprint = Q(
    "q27_fingerprint",
    """SELECT source,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(count(DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))))
      |    AS BIGINT) AS n_fingerprints
      |FROM documents
      |GROUP BY source
      |ORDER BY source""".stripMargin) { (spark, dir) =>
    Tables.documents(spark, dir)
      .withColumn("fp", TextFns.fingerprint(col("text")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), countDistinct(col("fp")).as("n_fingerprints"))
      .orderBy(col("source"))
  }

  /** DuckDB twin of the Dedup rare-shingle candidate stage over a
    * `docs(doc_id, t)` CTE, shared by q28 and q166: distinct trigram
    * shingles `sh`, per-doc set sizes `sizes`, the df ∈ [2, 100] `rare`
    * shingles, their rows `shr` and the per-pair overlap
    * `inter(id_a, id_b, n_inter)`. */
  private def rareShingleOverlapCtes: String =
    """sh AS (
      |  SELECT DISTINCT doc_id, s FROM docs,
      |    unnest(list_transform(range(1, len(t) - 1),
      |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS u(s)
      |  WHERE len(t) >= 3),
      |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) BETWEEN 2 AND 100),
      |shr AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
      |inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      |  FROM shr a JOIN shr b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  /** Exact 3-gram Jaccard near-dup pairs (threshold 0.5) on a
    * deterministic 1-in-2 doc sample, hot shingles capped at df≤100.
    * The oracle rebuilds the identical pipeline in SQL. (The sample was
    * 1-in-5 through r3, which left only 1/25 of dup pairs eligible and
    * made the sf0.01 gate vacuously pass on 0 rows — r3 verdict item 6;
    * 1-in-2 yields rows at sf0.01 while still exercising the sampled
    * path.) */
  val q28JaccardPairs = Q(
    "q28_jaccard_pairs",
    s"""WITH docs AS (
      |  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t
      |  FROM documents WHERE doc_id % 2 = 0),
      |$rareShingleOverlapCtes
      |SELECT id_a, id_b,
      |  round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 4) AS jaccard
      |FROM inter
      |JOIN sizes sa ON sa.doc_id = id_a
      |JOIN sizes sb ON sb.doc_id = id_b
      |WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
      |ORDER BY id_a, id_b""".stripMargin) { (spark, dir) =>
    val docs = Tables.documents(spark, dir).filter(col("doc_id") % 2 === 0)
    Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5, maxDocFreq = 100)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** DuckDB twin of `Dedup.minhashLshPairs`: identical portable base
    * hash (60 bits of md5 mod P), identical affine (a_i, b_i) constants
    * inlined from `Dedup.minhashParams`, identical banding — so the
    * whole approximate pipeline is hash-checked, not rows-only. */
  /** SQL for the default minhash corpus: the doc_id%2=0 sample q29/q70
    * run on. q144 swaps in its own upstream CTE. */
  private val MinhashDefaultDocsSql: String =
    """SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
      |  FROM documents WHERE doc_id % 2 = 0""".stripMargin

  private[graft] def minhashCtes(bands: Int, rowsPerBand: Int,
      docsSql: String = MinhashDefaultDocsSql, pfx: String = ""): String = {
    val k = bands * rowsPerBand
    val p = Dedup.MinhashP
    val mins = Dedup.minhashParams(k).zipWithIndex.map { case ((a, b), i) =>
      s"min(($a*xm+$b)%$p) AS h$i"
    }.mkString(", ")
    val sigList = (0 until k).map(i => s"h$i").mkString("[", ",", "]")
    s"""${pfx}docs AS (
       |  $docsSql),
       |${pfx}sh AS (
       |  SELECT DISTINCT doc_id, s FROM ${pfx}docs,
       |    unnest(list_transform(range(1, len(t) - 1),
       |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS u(s)
       |  WHERE len(t) >= 3),
       |${pfx}hx AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT % $p AS xm FROM ${pfx}sh),
       |${pfx}sigs AS (SELECT doc_id, $mins FROM ${pfx}hx GROUP BY doc_id),
       |${pfx}sigl AS (SELECT doc_id, $sigList AS sig FROM ${pfx}sigs),
       |${pfx}bands AS (${Dedup.minhashBandsSql(bands, rowsPerBand, s"${pfx}sigl")}),
       |${pfx}cands AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sig AS sa, b.sig AS sb
       |  FROM ${pfx}bands a JOIN ${pfx}bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)""".stripMargin
  }

  private def minhashOracle(bands: Int, rowsPerBand: Int, threshold: Double): String = {
    val k = bands * rowsPerBand
    s"""WITH ${minhashCtes(bands, rowsPerBand)}
       |SELECT id_a, id_b,
       |  round(len(list_filter(range(1, ${k + 1}), i -> sa[i] = sb[i])) / $k.0, 4) AS est_jaccard
       |FROM cands
       |WHERE len(list_filter(range(1, ${k + 1}), i -> sa[i] = sb[i])) / $k.0 >= $threshold
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** MinHash+LSH near-dup candidates (16 bands × 4 rows = 64 hashes),
    * portable hash family → fully oracle-checked. */
  val q29MinhashPairs = Q(
    "q29_minhash_pairs",
    minhashOracle(bands = 16, rowsPerBand = 4, threshold = 0.5)) { (spark, dir) =>
    val docs = Tables.documents(spark, dir).filter(col("doc_id") % 2 === 0)
    Dedup.minhashLshPairs(docs, "doc_id", "text",
        n = 3, bands = 16, rowsPerBand = 4, threshold = 0.5)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** DuckDB twin of `Dedup.minhashCrossCorpusDups` over the doc_id%10
    * incoming/reference split: the identical portable signature pipeline
    * as `minhashCtes`, but candidates join INCOMING bands to REFERENCE
    * bands instead of self-joining, and every incoming doc comes back
    * with its canonical duplicate target or NULL. */
  private def crossCorpusOracle(bands: Int, rowsPerBand: Int, threshold: Double): String = {
    val k = bands * rowsPerBand
    val p = Dedup.MinhashP
    val mins = Dedup.minhashParams(k).zipWithIndex.map { case ((a, b), i) =>
      s"min(($a*xm+$b)%$p) AS h$i"
    }.mkString(", ")
    val sigList = (0 until k).map(i => s"h$i").mkString("[", ",", "]")
    s"""WITH docs AS (
       |  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, s FROM docs,
       |    unnest(list_transform(range(1, len(t) - 1),
       |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS u(s)
       |  WHERE len(t) >= 3),
       |hx AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT % $p AS xm FROM sh),
       |sigs AS (SELECT doc_id, $mins FROM hx GROUP BY doc_id),
       |sigl AS (SELECT doc_id, $sigList AS sig FROM sigs),
       |bands AS (${Dedup.minhashBandsSql(bands, rowsPerBand, "sigl")}),
       |cands AS (
       |  SELECT DISTINCT n.doc_id AS nid, r.doc_id AS rid, n.sig AS sa, r.sig AS sb
       |  FROM bands n JOIN bands r ON n.band = r.band AND n.bkey = r.bkey
       |  WHERE n.doc_id % 10 >= 8 AND r.doc_id % 10 < 8),
       |verified AS (
       |  SELECT nid, min(rid) AS dup_of
       |  FROM cands
       |  WHERE len(list_filter(range(1, ${k + 1}), i -> sa[i] = sb[i])) / $k.0 >= $threshold
       |  GROUP BY nid)
       |SELECT d.doc_id, v.dup_of
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 >= 8) d
       |LEFT JOIN verified v ON d.doc_id = v.nid
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Incremental-ingest dedup (Dedup.minhashCrossCorpusDups): the 20%
    * "incoming" slice flagged against the 80% "reference" corpus by
    * banded MinHash collision + signature verify — the daily-delta
    * production shape where the reference side's band index is
    * precomputed and only the delta shuffles. */
  val q94CrossCorpusDedup = Q(
    "q94_cross_corpus_dedup",
    crossCorpusOracle(bands = 16, rowsPerBand = 4, threshold = 0.5)) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    Dedup.minhashCrossCorpusDups(
        docs.filter(col("doc_id") % 10 >= 8), docs.filter(col("doc_id") % 10 < 8),
        "doc_id", "text", n = 3, bands = 16, rowsPerBand = 4, threshold = 0.5)
      .select(col("id").as("doc_id"), col("dup_of"))
      .orderBy(col("doc_id"))
  }

  /** RAG/context chunking: overlapping token windows (50-token chunks,
    * stride 40 → 10-token overlap), the retrieval-corpus preparation
    * step. Fully narrow — chunk starts come from a per-row `sequence`,
    * the fan-out is one posexplode, and nothing shuffles until the
    * caller aggregates: at 100 TB this is a pure map over the corpus.
    * Contrast with q69 (sequence PACKING, which needs a running-sum
    * window); chunking is stateless per document. */
  val q95ChunkDocuments = Q(
    "q95_chunk_documents",
    """WITH docs AS (
      |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS t FROM documents),
      |chunks AS (
      |  SELECT doc_id, CAST((s - 1) // 40 AS BIGINT) AS chunk_idx,
      |    array_to_string(t[s : s + 49], ' ') AS chunk_text,
      |    CAST(least(len(t) - s + 1, 50) AS BIGINT) AS n_tokens
      |  FROM docs, unnest(range(1, len(t) + 1, 40)) AS u(s)
      |  WHERE len(t) > 0)
      |SELECT doc_id, chunk_idx, chunk_text, n_tokens
      |FROM chunks
      |ORDER BY doc_id, chunk_idx""".stripMargin) { (spark, dir) =>
    val ChunkSize = 50
    val Stride = 40
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(lower(col("text")), "\\s+").as("t"))
      .filter(size(col("t")) > 0)
      .select(col("doc_id"), col("t"),
        posexplode(sequence(lit(0), size(col("t")) - 1, lit(Stride)))
          .as(Seq("chunk_idx", "start")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        array_join(slice(col("t"), col("start") + 1, lit(ChunkSize)), " ").as("chunk_text"),
        least(size(col("t")) - col("start"), lit(ChunkSize)).cast("long").as("n_tokens"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** Count-min geometry for q96: 4 rows × 256 buckets, affine params
    * from the shared splitmix stream. */
  private val CmDepth = 4
  private val CmWidth = 256
  private val CmKeys = Seq("join", "hash", "row", "scan", "filter")

  /** Count-min sketch per-language token frequencies
    * (functions/CountMin): mergeable depth×width buffer per group —
    * vocabulary-independent state where exact counting shuffles the
    * whole vocabulary. The sketch is a pure function of the input
    * multiset over the portable hash family, so the oracle reproduces
    * every estimate EXACTLY (integer arithmetic end-to-end): per-row
    * bucket counts relationally, min over rows, same (a, b) constants
    * and key buckets inlined. */
  val q96CountMinFreqs = Q(
    "q96_countmin_freqs", {
      val params = Dedup.minhashParams(CmDepth)
      val p = Dedup.MinhashP
      val rowSels = (0 until CmDepth).map { r =>
        val (a, b) = params(r)
        s"SELECT lang, $r AS r, (($a*x+$b)%$p)%$CmWidth AS bucket, CAST(count(*) AS BIGINT) AS cnt FROM hx GROUP BY 1, 3"
      }.mkString("\n  UNION ALL ")
      val keyRows = CmKeys.flatMap { k =>
        (0 until CmDepth).map { r =>
          s"('$k', $r, ${graft.functions.CountMin.keyBucket(k, r, CmWidth, params, p)})"
        }
      }.mkString(", ")
      s"""WITH toks AS (
         |  SELECT lang, unnest(string_split_regex(lower(text), '\\s+')) AS tok
         |  FROM documents),
         |hx AS (SELECT lang, ('0x' || substr(md5(tok), 1, 15))::BIGINT % $p AS x FROM toks),
         |bh AS (
         |  $rowSels),
         |keys(token, r, bucket) AS (VALUES $keyRows)
         |SELECT b.lang, k.token, min(b.cnt) AS est
         |FROM keys k JOIN bh b ON b.r = k.r AND b.bucket = k.bucket
         |GROUP BY b.lang, k.token
         |ORDER BY lang, token""".stripMargin
    }) { (spark, dir) =>
    import graft.functions.CountMin
    val params = Dedup.minhashParams(CmDepth)
    val p = Dedup.MinhashP
    val toks = Tables.documents(spark, dir)
      .select(col("lang"), explode(split(lower(col("text")), "\\s+")).as("tok"))
      .select(col("lang"), Dedup.portableShingleHash(col("tok")).as("x"))
    val sk = toks.groupBy("lang")
      .agg(CountMin.sketch(col("x"), CmDepth, CmWidth, params, p).as("sk"))
    val estStructs = array(CmKeys.map { k =>
      val est = (0 until CmDepth).map { r =>
        element_at(col("sk"), r * CmWidth + CountMin.keyBucket(k, r, CmWidth, params, p) + 1)
      }.reduce((a, b) => least(a, b))
      struct(lit(k).as("token"), est.as("est"))
    }: _*)
    sk.select(col("lang"), explode(estStructs).as("e"))
      .select(col("lang"), col("e.token").as("token"), col("e.est").as("est"))
      .orderBy(col("lang"), col("token"))
  }

  /** Degeneration/loop detection (the decoding-loop quality filter):
    * per-document longest run of consecutive identical tokens and run
    * count, computed entirely with ARRAY expressions — run starts are a
    * filtered index list, run lengths are successive-start differences.
    * ZERO shuffles before the final sort: where the windowed
    * gaps-and-islands formulation (q87's shape) pays a per-doc
    * partition-sort exchange, this is a pure map — at 100 TB the
    * difference is a corpus shuffle vs none. */
  val q98TokenRuns = Q(
    "q98_token_runs",
    """WITH docs AS (
      |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS t FROM documents),
      |narrow AS (
      |  SELECT doc_id,
      |    list_filter(range(1, len(t) + 1), i -> i = 1 OR t[i] <> t[i - 1]) AS starts,
      |    len(t) AS n
      |  FROM docs WHERE len(t) > 0)
      |SELECT doc_id,
      |  CAST(list_max(list_transform(range(1, len(starts) + 1),
      |    k -> (CASE WHEN k = len(starts) THEN n + 1 ELSE starts[k + 1] END) - starts[k]))
      |    AS BIGINT) AS max_run,
      |  CAST(len(starts) AS BIGINT) AS n_runs
      |FROM narrow
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val t = col("t")
    val starts = col("starts")
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(lower(col("text")), "\\s+").as("t"))
      .filter(size(t) > 0)
      .select(col("doc_id"),
        filter(sequence(lit(1), size(t)),
          i => i === 1 || element_at(t, i) =!= element_at(t, i - 1)).as("starts"),
        size(t).as("n"))
      .select(col("doc_id"),
        array_max(transform(sequence(lit(1), size(starts)),
          k => when(k === size(starts), col("n") + 1)
            .otherwise(element_at(starts, k + 1)) - element_at(starts, k)))
          .cast("long").as("max_run"),
        size(starts).cast("long").as("n_runs"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic negative sampling (contrastive-training pairs): each
    * document draws 3 pseudo-random partners via the portable md5 hash
    * of (doc_id, draw) mod corpus size — partition-independent, stable
    * across engines AND across reruns (a `rand()` formulation is
    * neither), self-pairs dropped. Candidate generation is a narrow map
    * (one 1-row count broadcast); the only shuffle is the partner-
    * metadata equi-join, which at 100 TB is the unavoidable lookup of
    * the negatives' features. */
  val q100NegativeSamples = Q(
    "q100_negative_samples",
    """WITH nn AS (SELECT count(*) AS n_docs FROM documents),
      |cand AS (
      |  SELECT d.doc_id, CAST(j AS BIGINT) AS draw,
      |    ('0x' || substr(md5(d.doc_id || '#' || j), 1, 15))::BIGINT % n_docs AS neg_id
      |  FROM documents d CROSS JOIN nn, range(0, 3) t(j))
      |SELECT c.doc_id, c.draw, c.neg_id, n.lang AS neg_lang
      |FROM cand c JOIN documents n ON c.neg_id = n.doc_id
      |WHERE c.neg_id <> c.doc_id
      |ORDER BY c.doc_id, c.draw""".stripMargin) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val cand = docs.select(col("doc_id"))
      .join(broadcast(nDocs))
      .select(col("doc_id"),
        posexplode(array((0 until 3).map { j =>
          pmod(Dedup.portableHash60(
            concat_ws("#", col("doc_id").cast("string"), lit(j.toString))),
            col("n_docs"))
        }: _*)).as(Seq("draw", "neg_id")))
      .filter(col("neg_id") =!= col("doc_id"))
      .select(col("doc_id"), col("draw").cast("long").as("draw"), col("neg_id"))
    cand.join(docs.select(col("doc_id").as("neg_id"), col("lang").as("neg_lang")),
        "neg_id")
      .select(col("doc_id"), col("draw"), col("neg_id"), col("neg_lang"))
      .orderBy(col("doc_id"), col("draw"))
  }

  /** PMI phrase mining (collocation detection): pointwise mutual
    * information of adjacent token pairs vs their unigram independence
    * assumption — the classic phrase-vocabulary builder (word2vec's
    * phrase pass). Bigram generation is a narrow array transform (no
    * self-join); the corpus-level statistics are two hash aggregates
    * (bigram, unigram) plus 1-row totals broadcast back; the unigram
    * lookup is an equi-join on the token. Same PMI expression tree in
    * both dialects, rounded to 6 dp. */
  val q101PmiPhrases = Q(
    "q101_pmi_phrases",
    """WITH docs AS (
      |  SELECT string_split_regex(lower(text), '\s+') AS t FROM documents
      |  WHERE len(string_split_regex(lower(text), '\s+')) >= 2),
      |big AS (
      |  SELECT p.a, p.b, CAST(count(*) AS BIGINT) AS c_ab FROM docs,
      |    unnest(list_transform(range(1, len(t)),
      |      i -> struct_pack(a := t[i], b := t[i + 1]))) AS u(p)
      |  GROUP BY 1, 2),
      |uni AS (
      |  SELECT tok, CAST(count(*) AS BIGINT) AS c FROM docs, unnest(t) AS v(tok)
      |  GROUP BY 1),
      |tot AS (
      |  SELECT (SELECT sum(c_ab) FROM big) AS nb, (SELECT sum(c) FROM uni) AS nt)
      |SELECT g.a, g.b, g.c_ab,
      |  round(ln((g.c_ab / t.nb) / ((ua.c / t.nt) * (ub.c / t.nt))), 6) + 0.0 AS pmi
      |FROM big g
      |JOIN uni ua ON g.a = ua.tok
      |JOIN uni ub ON g.b = ub.tok
      |CROSS JOIN tot t
      |WHERE g.c_ab >= 5
      |ORDER BY pmi DESC, g.a, g.b
      |LIMIT 15""".stripMargin) { (spark, dir) =>
    val toks = Tables.documents(spark, dir)
      .select(split(lower(col("text")), "\\s+").as("t"))
      .filter(size(col("t")) >= 2)
    val big = toks
      .select(explode(transform(sequence(lit(1), size(col("t")) - 1),
        i => struct(element_at(col("t"), i).as("a"),
          element_at(col("t"), i + 1).as("b")))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("c_ab"))
    val uni = toks.select(explode(col("t")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val tot = big.agg(sum(col("c_ab")).as("nb"))
      .crossJoin(uni.agg(sum(col("c")).as("nt")))
    big
      .join(uni.select(col("tok").as("a"), col("c").as("c_a")), "a")
      .join(uni.select(col("tok").as("b"), col("c").as("c_b")), "b")
      .crossJoin(broadcast(tot))
      .filter(col("c_ab") >= 5)
      .select(col("a"), col("b"), col("c_ab"),
        Q.noNegZero(round(log((col("c_ab") / col("nb")) /
          ((col("c_a") / col("nt")) * (col("c_b") / col("nt")))), 6)).as("pmi"))
      .orderBy(col("pmi").desc, col("a"), col("b"))
      .limit(15)
  }

  /** Skip-gram co-occurrence counts (word2vec's training statistic):
    * (center, context) pairs within a ±2 window, generated NARROWLY
    * from each token array (explode position × offset, bounds-filtered)
    * — the corpus shuffles once, on the pair key, for the count. Top 20
    * by count with full tiebreak. Complements q101: PMI scores ADJACENT
    * pairs; this materializes the windowed co-occurrence table that
    * embedding trainers and distributional-similarity models consume. */
  val q108SkipgramPairs = Q(
    "q108_skipgram_pairs",
    """WITH docs AS (
      |  SELECT string_split_regex(lower(text), '\s+') AS t FROM documents),
      |pairs AS (
      |  SELECT t[i] AS center, t[i + o] AS context
      |  FROM docs, unnest(range(1, len(t) + 1)) u(i), unnest([-2, -1, 1, 2]) v(o)
      |  WHERE i + o BETWEEN 1 AND len(t))
      |SELECT center, context, CAST(count(*) AS BIGINT) AS n
      |FROM pairs
      |GROUP BY center, context
      |ORDER BY n DESC, center, context
      |LIMIT 20""".stripMargin) { (spark, dir) =>
    val t = col("t")
    Tables.documents(spark, dir)
      .select(split(lower(col("text")), "\\s+").as("t"))
      .select(t, posexplode(t).as(Seq("p", "center")))
      .select(t, (col("p") + 1).as("i"), col("center"),
        explode(array(Seq(-2, -1, 1, 2).map(lit): _*)).as("o"))
      .filter((col("i") + col("o")).between(lit(1), size(t)))
      .select(col("center"), element_at(t, (col("i") + col("o")).cast("int")).as("context"))
      .groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("center"), col("context"))
      .limit(20)
  }

  /** Temperature-scaled mixture sampling (the data-mixing step of an
    * LLM training pipeline): per-source sampling weights ∝ n_s^(1/τ)
    * with τ=2 — upsampling rare sources relative to their natural
    * frequency (τ=1 is proportional, τ→∞ uniform) — then a target
    * budget of 200 docs split across sources and drawn DETERMINISTICALLY
    * by the portable md5-uniform (same rows selected on any engine,
    * partitioning, or rerun; rand() is none of those). Rates derive
    * from per-source counts relationally, so the whole mixture spec is
    * one small agg + one broadcastable rate table against the corpus —
    * no per-source jobs. */
  val q113MixtureSample = Q(
    "q113_mixture_sample",
    """WITH counts AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_s FROM documents GROUP BY source),
      |rates AS (
      |  SELECT source, n_s,
      |    least(1.0, 200 * (pow(n_s, 0.5) / sum(pow(n_s, 0.5)) OVER ()) / n_s) AS keep_rate
      |  FROM counts)
      |SELECT d.doc_id, d.source
      |FROM documents d JOIN rates r ON d.source = r.source
      |WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
      |        / 1152921504606846976.0 < r.keep_rate
      |ORDER BY d.doc_id""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    import graft.functions.Sampling
    val docs = Tables.documents(spark, dir)
    val rates = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_s"))
      .withColumn("keep_rate",
        least(lit(1.0),
          lit(200) * (pow(col("n_s"), 0.5) /
            sum(pow(col("n_s"), 0.5)).over(Window.partitionBy())) / col("n_s")))
    docs.join(rates, "source")
      .filter(Sampling.hashUniform(col("doc_id")) < col("keep_rate"))
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))
  }

  /** SimHash near-dup pairs (hamming ≤ 3 on 64-bit signatures),
    * pigeonhole-blocked on 16-bit bands. Rows-only check — the native
    * XXH64 codegen loop is the fast path; its oracle-checked twin over
    * the portable hash is q60. */
  val q30SimhashPairs = Q.noOracle("q30_simhash_pairs") { (spark, dir) =>
    val docs = Tables.documents(spark, dir).filter(col("doc_id") % 2 === 0)
    Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** DuckDB twin of the portable SimHash pipeline: identical 60-bit md5
    * token hash, identical ±1 bit votes, identical 15-bit banding. */
  private def simhashPortableOracle(maxHamming: Int): String = {
    val votes = (0 until 60).map(b =>
      s"sum(CASE WHEN ((x >> $b) & 1) = 1 THEN 1 ELSE -1 END) AS v$b").mkString(", ")
    val sig = (0 until 60).map(b =>
      s"(CASE WHEN v$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
    s"""WITH docs AS (
       |  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t
       |  FROM documents WHERE doc_id % 2 = 0),
       |tk AS (
       |  SELECT doc_id, ('0x' || substr(md5(u.tok), 1, 15))::BIGINT AS x
       |  FROM docs, unnest(t) AS u(tok)),
       |votes AS (SELECT doc_id, $votes FROM tk GROUP BY doc_id),
       |sigs AS (SELECT doc_id, $sig AS sig FROM votes),
       |bands AS (
       |  SELECT doc_id, sig, b.band, (sig >> (b.band * 15)) & 32767 AS bkey
       |  FROM sigs, (VALUES (0), (1), (2), (3)) b(band)),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |    bit_count(xor(a.sig, b.sig)) AS hamming
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b, CAST(hamming AS INT) AS hamming
       |FROM pairs
       |WHERE hamming <= $maxHamming
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Portable SimHash near-dup pairs — fully oracle-checked. */
  val q60SimhashPortable = Q(
    "q60_simhash_portable",
    simhashPortableOracle(maxHamming = 3)) { (spark, dir) =>
    val docs = Tables.documents(spark, dir).filter(col("doc_id") % 2 === 0)
    Dedup.simhashPairsPortable(docs, "doc_id", "text", maxHamming = 3)
      .select(col("id_a"), col("id_b"), col("hamming").cast("int").as("hamming"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** TF-IDF top terms per language, entirely in relational algebra
    * (explode → tf, df, smooth idf, window top-k) — no fitted model, no
    * ML pipeline, so it runs identically at any scale and in DuckDB. */
  val q37TfidfTopTerms = Q(
    "q37_tfidf_top_terms",
    """WITH toks AS (
      |  SELECT doc_id, lang, unnest(string_split_regex(lower(text), '\s+')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, lang, term, count(*) AS tf FROM toks GROUP BY 1, 2, 3),
      |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT tf.lang, tf.term,
      |    sum(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0)) AS score
      |  FROM tf JOIN df USING (term) CROSS JOIN n
      |  GROUP BY 1, 2)
      |SELECT lang, term, round(score, 4) AS score, rk FROM (
      |  SELECT lang, term, score,
      |    row_number() OVER (PARTITION BY lang ORDER BY round(score, 4) DESC, term) AS rk
      |  FROM scored) t
      |WHERE rk <= 3
      |ORDER BY lang, rk""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val toks = docs
      .repartition(col("doc_id"))
      .select(col("doc_id"), col("lang"), explode(TextFns.tokens(col("text"))).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("lang"), col("term")).agg(count(lit(1)).as("tf"))
    val df = toks.groupBy(col("term")).agg(countDistinct(col("doc_id")).as("df"))
    // n_docs as a 1-row aggregate cross-joined in (Catalyst broadcasts it):
    // keeps the whole query a single job instead of a separate driver-side
    // count() action before the main plan.
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, "term")
      .join(broadcast(nDocs))
      .groupBy(col("lang"), col("term"))
      .agg(sum(col("tf") * (log((col("n_docs") + 1.0) / (col("df") + 1.0)) + 1.0)).as("score"))
    val w = Window.partitionBy(col("lang")).orderBy(round(col("score"), 4).desc, col("term"))
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("lang"), col("term"), round(col("score"), 4).as("score"), col("rk"))
      .orderBy(col("lang"), col("rk"))
  }

  /** BPE-ish pre-tokenizer regex (GPT-2 style, simplified to the RE2
    * subset both engines share — no lookahead): a token is an optional
    * leading space plus a letter run, digit run, or punctuation run. */
  private val BpePattern = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s]+"

  /** Token counting with the BPE-ish regex tokenizer (north-star "token
    * counting: whitespace + a BPE-ish regex"; whitespace variant is q24). */
  val q43BpeTokens = Q(
    "q43_bpe_tokens",
    s"""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  round(avg(len(regexp_extract_all(lower(text), '$BpePattern'))), 4) AS avg_bpe_tokens,
       |  CAST(max(len(regexp_extract_all(lower(text), '$BpePattern'))) AS INT) AS max_bpe_tokens
       |FROM documents
       |GROUP BY source
       |ORDER BY source""".stripMargin) { (spark, dir) =>
    Tables.documents(spark, dir)
      .withColumn("n_bpe",
        size(regexp_extract_all(lower(col("text")), lit(BpePattern), lit(0))))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("n_bpe")), 4).as("avg_bpe_tokens"),
        max(col("n_bpe")).cast("int").as("max_bpe_tokens"))
      .orderBy(col("source"))
  }

  /** Winnowing document fingerprints (the rolling-hash fingerprint
    * family, MOSS-style): hash every 8-char gram of the normalized text,
    * keep the minimum hash of every 4-gram window — a deterministic
    * ~1/4 sample of the gram hashes that near-duplicate documents share.
    * The per-window min is a window-frame aggregate, so the whole
    * operator is one explode + one window + one groupBy — no UDF, fully
    * distributed, and byte-identical in DuckDB via the md5-based gram
    * hash. */
  val q44WinnowFingerprint = Q(
    "q44_winnow_fingerprint",
    """WITH nrm AS (
      |  SELECT doc_id, source, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, source, i AS pos,
      |    ('0x' || substr(md5(substr(norm, i, 8)), 1, 15))::BIGINT AS gh
      |  FROM nrm, unnest(range(1, length(norm) - 6)) AS t(i)
      |  WHERE length(norm) >= 8),
      |w AS (
      |  SELECT doc_id, source, pos, gh,
      |    min(gh) OVER (PARTITION BY doc_id ORDER BY pos
      |                  ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel,
      |    count(*) OVER (PARTITION BY doc_id) AS npos
      |  FROM g),
      |sels AS (SELECT DISTINCT doc_id, source, sel FROM w WHERE pos <= npos - 3),
      |per AS (SELECT doc_id, source, count(*) AS n_fp FROM sels GROUP BY 1, 2)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  round(avg(n_fp), 4) AS avg_fps, CAST(max(n_fp) AS INT) AS max_fps
      |FROM per
      |GROUP BY source
      |ORDER BY source""".stripMargin) { (spark, dir) =>
    // r15 perf: the winnow expression emits the per-doc DISTINCT
    // fingerprints, so the per-doc count is the array size in-row —
    // the explode + (doc, source) re-group this replaced shuffled every
    // selected gram to recount what the row already knew (guide §2.4)
    val docs = Tables.documents(spark, dir)
    Dedup.winnowFingerprintCounts(docs, "doc_id", "text", w = 8, k = 4,
        carry = Seq("source"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("n_fp")), 4).as("avg_fps"),
        max(col("n_fp")).cast("int").as("max_fps"))
      .orderBy(col("source"))
  }

  /** Pivot: doc counts per lang × source — Spark `groupBy().pivot()`
    * against DuckDB FILTER aggregates. The source list is static (the
    * pivot contract: column set must be known without a scan). */
  val q46PivotLangs: Q = {
    val srcs = (0 until 20).map(i => s"src$i")
    Q("q46_pivot_langs",
      s"""SELECT lang,
         |  ${srcs.map(s => s"CAST(count(*) FILTER (WHERE source = '$s') AS BIGINT) AS $s").mkString(",\n  ")}
         |FROM documents
         |GROUP BY lang
         |ORDER BY lang""".stripMargin) { (spark, dir) =>
      val pivoted = Tables.documents(spark, dir)
        .groupBy(col("lang"))
        .pivot("source", srcs)
        .agg(count(lit(1)))
      // pivot leaves null (not 0) for absent (lang, source) combos
      pivoted.select(col("lang") +: srcs.map(s => coalesce(col(s), lit(0L)).as(s)): _*)
        .orderBy(col("lang"))
    }
  }

  /** explode_outer: fan out the long-token array but KEEP documents with
    * no long tokens as a null row (plain explode drops them). The oracle
    * states the same semantics arithmetically: every doc contributes
    * max(len, 1) rows and len non-null terms. */
  val q48ExplodeOuter = Q(
    "q48_explode_outer",
    """WITH t AS (
      |  SELECT source,
      |    list_filter(string_split_regex(lower(text), '\s+'), x -> length(x) > 12) AS l
      |  FROM documents)
      |SELECT source,
      |  CAST(sum(greatest(len(l), 1)) AS BIGINT) AS n_rows,
      |  CAST(sum(len(l)) AS BIGINT) AS n_terms
      |FROM t
      |GROUP BY source
      |ORDER BY source""".stripMargin) { (spark, dir) =>
    Tables.documents(spark, dir)
      .select(col("source"),
        explode_outer(filter(TextFns.tokens(col("text")), t => length(t) > 12)).as("term"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_rows"), count(col("term")).as("n_terms"))
      .orderBy(col("source"))
  }

  /** Character-distribution entropy per document (the computable
    * feature-extract of the multimodal verb list, and a standard
    * compression-estimate quality signal): explode characters, count
    * per (doc, char), Shannon entropy per doc, average per source.
    * Fully distributed — the char fan-out happens after spreading by
    * doc_id, entropy is a plain grouped sum. */
  val q53CharEntropy = Q(
    "q53_char_entropy",
    """WITH ch AS (
      |  SELECT doc_id, source, unnest(string_split(text, '')) AS c FROM documents),
      |cnt AS (SELECT doc_id, source, c, count(*) AS n FROM ch GROUP BY 1, 2, 3),
      |tot AS (SELECT doc_id, CAST(sum(n) AS DOUBLE) AS t FROM cnt GROUP BY 1),
      |ent AS (
      |  SELECT cnt.doc_id, cnt.source, -sum((n / t) * log2(n / t)) AS h
      |  FROM cnt JOIN tot USING (doc_id)
      |  GROUP BY 1, 2)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  round(avg(h), 4) AS avg_entropy
      |FROM ent
      |GROUP BY source
      |ORDER BY source""".stripMargin) { (spark, dir) =>
    val cnt = Tables.documents(spark, dir)
      .repartition(col("doc_id"))
      .select(col("doc_id"), col("source"), explode(split(col("text"), "")).as("c"))
      .groupBy(col("doc_id"), col("source"), col("c"))
      .agg(count(lit(1)).as("n"))
    val tot = cnt.groupBy(col("doc_id")).agg(sum(col("n")).cast("double").as("t"))
    cnt.join(tot, "doc_id")
      .groupBy(col("doc_id"), col("source"))
      .agg((-sum((col("n") / col("t")) * log2(col("n") / col("t")))).as("h"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), round(avg(col("h")), 4).as("avg_entropy"))
      .orderBy(col("source"))
  }

  /** Token-repetition quality signals (Gopher-style): duplicate-token
    * ratio and most-common-token mass per document, averaged per lang —
    * the repetition filters a pretraining pipeline runs alongside q25's
    * length/punct/stopword gates. One explode + two grouped aggs. */
  val q54RepetitionSignals = Q(
    "q54_repetition_signals",
    """WITH toks AS (
      |  SELECT doc_id, lang, unnest(string_split_regex(lower(text), '\s+')) AS t
      |  FROM documents),
      |cnt AS (SELECT doc_id, lang, t, count(*) AS n FROM toks GROUP BY 1, 2, 3),
      |per AS (
      |  SELECT doc_id, lang, CAST(sum(n) AS DOUBLE) AS total,
      |    count(*) AS n_distinct, max(n) AS top_n
      |  FROM cnt GROUP BY 1, 2)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  round(avg(1 - n_distinct / total), 4) AS avg_dup_ratio,
      |  round(avg(top_n / total), 4) AS avg_top_frac
      |FROM per
      |GROUP BY lang
      |ORDER BY lang""".stripMargin) { (spark, dir) =>
    val cnt = Tables.documents(spark, dir)
      .repartition(col("doc_id"))
      .select(col("doc_id"), col("lang"), explode(TextFns.tokens(col("text"))).as("t"))
      .groupBy(col("doc_id"), col("lang"), col("t"))
      .agg(count(lit(1)).as("n"))
    cnt.groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("n")).cast("double").as("total"),
        count(lit(1)).as("n_distinct"), max(col("n")).as("top_n"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(lit(1) - col("n_distinct") / col("total")), 4).as("avg_dup_ratio"),
        round(avg(col("top_n") / col("total")), 4).as("avg_top_frac"))
      .orderBy(col("lang"))
  }

  /** Heavy-hitter tokens per lang via the Misra-Gries sketch (k=32
    * counters per group, one k-sized buffer shuffled per group — vs
    * q37's exact path that shuffles the whole vocabulary). Rows-only:
    * the survivor set near the N/k boundary is encounter-order
    * dependent (inherent to the sketch); FreqSketchSpec asserts the
    * mathematical guarantees instead. */
  val q58HeavyHitters = Q.noOracle("q58_heavy_hitters") { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    import graft.functions.FreqSketch
    val hh = Tables.documents(spark, dir)
      .repartition(col("doc_id"))
      .select(col("lang"), explode(TextFns.tokens(col("text"))).as("t"))
      .groupBy(col("lang"))
      .agg(FreqSketch.heavyHitters(col("t"), 32).as("hh"))
      .select(col("lang"), explode(col("hh")).as(Seq("token", "est")))
    val w = Window.partitionBy(col("lang")).orderBy(col("est").desc, col("token"))
    hh.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .orderBy(col("lang"), col("rk"))
  }

  /** Benchmark-contamination check — the decontamination step every
    * training-data pipeline runs before a model sees the corpus: docs
    * sharing ≥ 3 distinct word-3-gram shingles with a held-out benchmark
    * set (here doc_id % 97 = 0) are flagged, reported as a per-source
    * rate. The overlap test is a shingle equi-join: shuffle by shingle,
    * benchmark side collapsed to DISTINCT shingles first (benchmarks are
    * tiny relative to the corpus, so AQE broadcasts that side — no hint,
    * per the broadcast policy). */
  val q68Contamination = Q(
    "q68_contamination",
    """WITH docs AS (
      |  SELECT doc_id, source, string_split_regex(lower(text), '\s+') AS t
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, source, s FROM docs,
      |    unnest(list_transform(range(1, len(t) - 1),
      |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS u(s)
      |  WHERE len(t) >= 3),
      |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
      |train AS (SELECT * FROM sh WHERE doc_id % 97 <> 0),
      |flagged AS (
      |  SELECT doc_id, source FROM train JOIN bench USING (s)
      |  GROUP BY 1, 2 HAVING count(*) >= 3),
      |tr AS (SELECT source, CAST(count(*) AS BIGINT) AS n_train
      |       FROM documents WHERE doc_id % 97 <> 0 GROUP BY source),
      |fl AS (SELECT source, CAST(count(*) AS BIGINT) AS n_contaminated
      |       FROM flagged GROUP BY source)
      |SELECT source, n_train,
      |  CAST(coalesce(n_contaminated, 0) AS BIGINT) AS n_contaminated,
      |  round(coalesce(n_contaminated, 0) / CAST(n_train AS DOUBLE), 4) AS contamination_rate
      |FROM tr LEFT JOIN fl USING (source)
      |ORDER BY source""".stripMargin) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    val sh = docs
      .repartition(col("doc_id"))
      // tokens as their own projection BEFORE shingling — inlining the
      // split into every element_at is O(tokens²) regex work per doc
      // (see Dedup.shingleView)
      .select(col("doc_id"), col("source"), TextFns.tokens(col("text")).as("toks"))
      // codegen-narrow shingling + exchange-free per-doc distinct (the
      // repartition(doc_id) above clusters (doc_id, s) already — see
      // Dedup.shingleView)
      .select(col("doc_id"), col("source"), col("toks"),
        explode(TextFns.shinglePositions(col("toks"), 3)).as("i"))
      .select(col("doc_id"), col("source"),
        TextFns.shingleAt(col("toks"), col("i"), 3).as("s"))
      .dropDuplicates(Seq("doc_id", "s"))
    val bench = sh.filter(col("doc_id") % 97 === 0).select(col("s")).distinct()
    val flagged = sh.filter(col("doc_id") % 97 =!= 0)
      .join(bench, "s")
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 3)
    val train = docs.filter(col("doc_id") % 97 =!= 0)
      .groupBy(col("source")).agg(count(lit(1)).as("n_train"))
    train
      .join(flagged.groupBy(col("source")).agg(count(lit(1)).as("nc")), Seq("source"), "left")
      .select(col("source"), col("n_train"),
        coalesce(col("nc"), lit(0L)).as("n_contaminated"),
        round(coalesce(col("nc"), lit(0L)) / col("n_train").cast("double"), 4)
          .as("contamination_rate"))
      .orderBy(col("source"))
  }

  /** Sequence packing — greedy contiguous packing of documents into
    * fixed token budgets (the batch-construction step of LLM training).
    * Docs are sharded deterministically (doc_id % 16), each shard packs
    * independently with a running-sum window: chunk = exclusive-prefix
    * tokens ÷ budget. Sharding is the scale design: a global ORDER BY
    * window would serialize into one task; per-shard windows run one
    * partition each, and chunk ids are namespaced by shard. */
  val q69PackChunks = Q(
    "q69_pack_chunks",
    """WITH toks AS (
      |  SELECT doc_id, doc_id % 16 AS shard,
      |    len(string_split_regex(lower(text), '\s+')) AS n_tok
      |  FROM documents),
      |packed AS (
      |  SELECT shard, n_tok,
      |    CAST(floor((sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
      |      ROWS UNBOUNDED PRECEDING) - n_tok) / 512.0) AS BIGINT) AS chunk
      |  FROM toks)
      |SELECT shard, chunk, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_tok) AS BIGINT) AS sum_tokens
      |FROM packed
      |GROUP BY shard, chunk
      |ORDER BY shard, chunk""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), (col("doc_id") % 16).as("shard"),
        TextFns.tokenCount(col("text")).cast("long").as("n_tok"))
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toks
      .withColumn("chunk",
        floor((sum(col("n_tok")).over(w) - col("n_tok")) / 512.0).cast("long"))
      .groupBy(col("shard"), col("chunk"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).cast("long").as("sum_tokens"))
      .orderBy(col("shard"), col("chunk"))
  }

  /** The text-dedup ENDPOINT, end to end: MinHash+LSH pairs (q29's exact
    * parameters) → connected components → drop non-canonical members →
    * per-source survivor counts. The oracle replays the identical
    * portable-hash pipeline and resolves components with a recursive
    * CTE — the full "dedup a corpus" composition is hash-checked, not
    * just its stages. */
  val q70DocDedupKeep = Q(
    "q70_doc_dedup_keep", {
      val k = 16 * 4
      s"""WITH RECURSIVE ${minhashCtes(16, 4)},
         |pairs AS (
         |  SELECT id_a, id_b FROM cands
         |  WHERE len(list_filter(range(1, ${k + 1}), i -> sa[i] = sb[i])) / $k.0 >= 0.5),
         |sym AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
         |reach(a, b) AS (
         |  SELECT src, dst FROM sym
         |  UNION
         |  SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src),
         |comp AS (SELECT a AS node, least(a, min(b)) AS comp FROM reach GROUP BY a)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_kept
         |FROM documents
         |WHERE doc_id % 2 = 0
         |  AND doc_id NOT IN (SELECT node FROM comp WHERE node <> comp)
         |GROUP BY source
         |ORDER BY source""".stripMargin
    }) { (spark, dir) =>
    val docs = Tables.documents(spark, dir).filter(col("doc_id") % 2 === 0)
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
        n = 3, bands = 16, rowsPerBand = 4, threshold = 0.5)
      .select(col("id_a"), col("id_b"))
    Dedup.dropNearDuplicates(docs, "doc_id", pairs)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"))
      .orderBy(col("source"))
  }

  /** PII scrubbing. The synthetic corpus carries no PII, so the query
    * plants a deterministic contact line per document (email + IPv4 +
    * phone derived from doc_id), scrubs it with `TextFns.scrubPii`, and
    * proves the redaction: per-type match counts before the scrub, zero
    * residual matches after, and the exact character mass of the cleaned
    * text (placeholder spelling included) — all hash-checked against
    * DuckDB running the same RE2-safe patterns. */
  val q73PiiScrub: Q = {
    val (em, ip, ph) = (TextFns.EmailPattern, TextFns.Ipv4Pattern, TextFns.PhonePattern)
    Q("q73_pii_scrub",
      s"""WITH injected AS (
         |  SELECT source,
         |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com from 10.0.'
         |      || CAST(doc_id % 200 AS VARCHAR) || '.' || CAST(doc_id % 250 AS VARCHAR)
         |      || ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
         |  FROM documents),
         |scrubbed AS (
         |  SELECT source, t,
         |    regexp_replace(regexp_replace(regexp_replace(t,
         |      '$em', '<EMAIL>', 'g'), '$ip', '<IP>', 'g'), '$ph', '<PHONE>', 'g') AS clean
         |  FROM injected)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(len(regexp_extract_all(t, '$em'))) AS BIGINT) AS n_emails,
         |  CAST(sum(len(regexp_extract_all(t, '$ip'))) AS BIGINT) AS n_ips,
         |  CAST(sum(len(regexp_extract_all(t, '$ph'))) AS BIGINT) AS n_phones,
         |  CAST(sum(len(regexp_extract_all(clean, '$em'))
         |         + len(regexp_extract_all(clean, '$ip'))
         |         + len(regexp_extract_all(clean, '$ph'))) AS BIGINT) AS n_residual,
         |  CAST(sum(length(clean)) AS BIGINT) AS clean_chars
         |FROM scrubbed
         |GROUP BY source
         |ORDER BY source""".stripMargin) { (spark, dir) =>
      val injected = Tables.documents(spark, dir)
        .select(col("source"),
          concat(col("text"),
            lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com from 10.0."), (col("doc_id") % 200).cast("string"),
            lit("."), (col("doc_id") % 250).cast("string"),
            lit(" call +1-555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
            .as("t"))
      injected
        .withColumn("clean", TextFns.scrubPii(col("t")))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(regexp_count(col("t"), lit(em))).as("n_emails"),
          sum(regexp_count(col("t"), lit(ip))).as("n_ips"),
          sum(regexp_count(col("t"), lit(ph))).as("n_phones"),
          sum(regexp_count(col("clean"), lit(em))
            + regexp_count(col("clean"), lit(ip))
            + regexp_count(col("clean"), lit(ph))).as("n_residual"),
          sum(length(col("clean"))).as("clean_chars"))
        .orderBy(col("source"))
    }
  }

  /** Boilerplate n-gram detection (the CCNet/RefinedWeb shape): a word
    * 3-gram occurring in ≥ 5 distinct documents is boilerplate; each doc
    * reports the fraction of its gram POSITIONS covered by boilerplate.
    * Scale shape: gram positions shuffle once by gram string to meet the
    * document-frequency relation; that relation is filtered to the
    * (small) boilerplate vocabulary before the join, so AQE broadcasts
    * it — corpus-sized × corpus-sized never happens. */
  val q74BoilerplateNgrams = Q(
    "q74_boilerplate_ngrams",
    """WITH docs AS (
      |  SELECT doc_id, source, string_split_regex(lower(text), '\s+') AS t
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, source, s FROM docs,
      |    unnest(list_transform(range(1, len(t) - 1),
      |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS u(s)
      |  WHERE len(t) >= 3),
      |boiler AS (
      |  SELECT s FROM g GROUP BY s HAVING count(DISTINCT doc_id) >= 5),
      |per AS (
      |  SELECT g.doc_id, g.source, count(*) AS n_pos,
      |    sum(CASE WHEN boiler.s IS NOT NULL THEN 1 ELSE 0 END) AS n_boiler
      |  FROM g LEFT JOIN boiler ON g.s = boiler.s
      |  GROUP BY 1, 2)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  round(avg(n_boiler / CAST(n_pos AS DOUBLE)), 4) AS avg_boiler_frac,
      |  CAST(sum(n_boiler) AS BIGINT) AS total_boiler
      |FROM per
      |GROUP BY source
      |ORDER BY source""".stripMargin) { (spark, dir) =>
    // ONE wide exchange of the gram positions, laid out by gram: the
    // document-frequency aggregate and the coverage join both consume it
    // (ReuseExchange), and hash-by-s co-location satisfies the distinct
    // agg's (s, doc_id) clustering, so no second position-sized shuffle
    val g = Tables.documents(spark, dir)
      // tokens as their own projection BEFORE shingling (see
      // Dedup.shingleView: inlined split is O(tokens²) per doc)
      .select(col("doc_id"), col("source"), TextFns.tokens(col("text")).as("toks"))
      // codegen-narrow shingling: explode positions, concat per row
      // (TextFns.shinglePositions scaladoc has the HOF-vs-codegen numbers)
      .select(col("doc_id"), col("source"), col("toks"),
        explode(TextFns.shinglePositions(col("toks"), 3)).as("i"))
      .select(col("doc_id"), col("source"),
        TextFns.shingleAt(col("toks"), col("i"), 3).as("s"))
      .repartition(col("s"))
    val boiler = g.groupBy(col("s")).agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= 5)
      .select(col("s"), lit(1).as("is_boiler"))
    g.join(boiler, Seq("s"), "left")
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_pos"), sum(coalesce(col("is_boiler"), lit(0))).as("n_boiler"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("n_boiler") / col("n_pos").cast("double")), 4).as("avg_boiler_frac"),
        sum(col("n_boiler")).as("total_boiler"))
      .orderBy(col("source"))
  }

  /** Unigram language-model scoring: every doc's mean token log-prob
    * under the corpus unigram distribution — the cheap perplexity proxy
    * pipelines use to rank docs for quality/outlier filtering. Token
    * positions join the (vocabulary-sized, AQE-broadcastable) frequency
    * relation; total mass rides a 1-row aggregate, so the whole score is
    * one job. */
  val q75LmDocScore = Q(
    "q75_lm_doc_score",
    """WITH toks AS (
      |  SELECT doc_id, lang, unnest(string_split_regex(lower(text), '\s+')) AS t
      |  FROM documents),
      |freq AS (SELECT t, count(*) AS c FROM toks GROUP BY t),
      |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS total FROM freq),
      |per AS (
      |  SELECT doc_id, lang, count(*) AS n_tokens,
      |    sum(ln(freq.c / tot.total)) / count(*) AS avg_lp
      |  FROM toks JOIN freq USING (t) CROSS JOIN tot
      |  GROUP BY doc_id, lang)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  round(avg(avg_lp), 4) + 0.0 AS mean_lp,
      |  round(min(avg_lp), 4) + 0.0 AS min_lp,
      |  round(max(avg_lp), 4) + 0.0 AS max_lp
      |FROM per
      |GROUP BY lang
      |ORDER BY lang""".stripMargin) { (spark, dir) =>
    val toks = Tables.documents(spark, dir)
      .repartition(col("doc_id"))
      .select(col("doc_id"), col("lang"), explode(TextFns.tokens(col("text"))).as("t"))
    val freq = toks.groupBy(col("t")).agg(count(lit(1)).as("c"))
    val tot = freq.agg(sum(col("c")).cast("double").as("total"))
    toks.join(freq, "t")
      .join(broadcast(tot))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_tokens"),
        (sum(log(col("c") / col("total"))) / count(lit(1))).as("avg_lp"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        Q.noNegZero(round(avg(col("avg_lp")), 4)).as("mean_lp"),
        Q.noNegZero(round(min(col("avg_lp")), 4)).as("min_lp"),
        Q.noNegZero(round(max(col("avg_lp")), 4)).as("max_lp"))
      .orderBy(col("lang"))
  }

  /** Stratified deterministic sampling — per-language keep rates (down-
    * sample the dominant language, keep the rest), the data-mixing step
    * of corpus construction. Same portable md5 bucket as q49/q61, so the
    * selected ROW SET is engine-independent, not just the rates. */
  val q77StratifiedSample = Q(
    "q77_stratified_sample",
    """WITH b AS (
      |  SELECT lang,
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS bucket,
      |    n_chars
      |  FROM documents)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_total,
      |  CAST(sum(CASE WHEN bucket < (CASE WHEN lang = 'en' THEN 10 ELSE 50 END)
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(sum(CASE WHEN bucket < (CASE WHEN lang = 'en' THEN 10 ELSE 50 END)
      |    THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
      |FROM b
      |GROUP BY lang
      |ORDER BY lang""".stripMargin) { (spark, dir) =>
    import graft.functions.Sampling
    val frac = when(col("lang") === "en", 10).otherwise(50)
    val kept = (Sampling.hashBucket(col("doc_id")) < frac).cast("long")
    Tables.documents(spark, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_total"),
        sum(kept).as("n_kept"),
        sum(when(kept === 1, col("n_chars")).otherwise(0L)).as("kept_chars"))
      .orderBy(col("lang"))
  }

  /** Edit-distance near-dup pairs (`Dedup.editDistancePairs`): rare-
    * shingle blocking, length-band prefilter, threshold Levenshtein.
    * Every corpus byte here is ASCII, so DuckDB's byte-based levenshtein
    * and Spark's codepoint-based one count identical edits; the oracle
    * mirrors the blocking CTE-for-CTE so the candidate sets — not just
    * the distance math — are proven equal. */
  val q78EditDistancePairs = Q(
    "q78_edit_distance_pairs",
    """WITH docs AS (
      |  SELECT doc_id, text, string_split_regex(lower(text), '\s+') AS t
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, s FROM docs,
      |    unnest(list_transform(range(1, len(t) - 1),
      |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS u(s)
      |  WHERE len(t) >= 3),
      |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) BETWEEN 2 AND 100),
      |shr AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
      |cand AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM shr a JOIN shr b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2 HAVING count(*) >= 3)
      |SELECT id_a, id_b, CAST(levenshtein(da.text, db.text) AS INT) AS lev
      |FROM cand
      |JOIN docs da ON da.doc_id = id_a
      |JOIN docs db ON db.doc_id = id_b
      |WHERE abs(length(da.text) - length(db.text)) <= 30
      |  AND levenshtein(da.text, db.text) <= 30
      |ORDER BY id_a, id_b""".stripMargin) { (spark, dir) =>
    Dedup.editDistancePairs(Tables.documents(spark, dir), "doc_id", "text",
        n = 3, maxDist = 30, maxDocFreq = 100)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Hashed-feature linear classifier scores (`QualityModel`): the
    * fastText-shaped quality gate as a fully narrow plan — HOF fold per
    * row, zero shuffles before the final per-language rollup. Weights
    * and the md5 bucket hash are shared with the oracle, so per-doc
    * scores agree bit-for-bit across engines. */
  val q81ClassifierScores = Q(
    "q81_classifier_scores",
    s"""WITH scored AS (
       |  SELECT lang,
       |    list_sum(list_transform(string_split_regex(lower(text), '\\s+'),
       |      x -> (${QualityModel.weightsSqlList})[
       |        ('0x' || substr(md5(x), 1, 15))::BIGINT % ${QualityModel.Dim} + 1]))
       |      / len(string_split_regex(lower(text), '\\s+')) + ${QualityModel.Bias} AS score
       |  FROM documents)
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
       |  round(avg(score), 4) + 0.0 AS mean_score,
       |  round(min(score), 4) + 0.0 AS min_score,
       |  round(max(score), 4) + 0.0 AS max_score
       |FROM scored
       |GROUP BY lang
       |ORDER BY lang""".stripMargin) { (spark, dir) =>
    Tables.documents(spark, dir)
      .select(col("lang"), TextFns.tokens(col("text")).as("toks"))
      .select(col("lang"), QualityModel.score(col("toks")).as("score"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("score") > 0, 1).otherwise(0)).as("n_pass"),
        Q.noNegZero(round(avg(col("score")), 4)).as("mean_score"),
        Q.noNegZero(round(min(col("score")), 4)).as("min_score"),
        Q.noNegZero(round(max(col("score")), 4)).as("max_score"))
      .orderBy(col("lang"))
  }

  /** Exact-substring dedup signal (`Dedup.duplicatedSpanCoverage`, the
    * Lee et al. 2022 shape): per source, how many tokens sit inside a
    * 20-token run occurring ≥ 2× in the corpus, with overlapping spans
    * union-merged per doc by the interval window. */
  val q83DupSpanCoverage = Q(
    "q83_dup_span_coverage",
    """WITH docs AS (
      |  SELECT doc_id, source, string_split_regex(lower(text), '\s+') AS t
      |  FROM documents),
      |sp AS (
      |  SELECT doc_id, i AS s, i + 19 AS e,
      |    md5(list_aggregate(t[i:i+19], 'string_agg', ' ')) AS h
      |  FROM docs, unnest(range(1, len(t) - 18)) AS u(i)
      |  WHERE len(t) >= 20),
      |dup AS (SELECT h FROM sp GROUP BY h HAVING count(*) >= 2),
      |ds AS (SELECT doc_id, s, e FROM sp JOIN dup USING (h)),
      |cov AS (
      |  SELECT doc_id,
      |    greatest(e - greatest(coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0), s - 1), 0) AS c
      |  FROM ds),
      |per AS (SELECT doc_id, sum(c) AS dup_tokens FROM cov GROUP BY 1),
      |tok AS (SELECT doc_id, source, len(t) AS n_tokens FROM docs)
      |SELECT source,
      |  CAST(count(*) AS BIGINT) AS n_dup_docs,
      |  CAST(sum(dup_tokens) AS BIGINT) AS dup_tokens,
      |  round(avg(dup_tokens / CAST(n_tokens AS DOUBLE)), 4) AS avg_dup_frac
      |FROM per JOIN tok USING (doc_id)
      |GROUP BY source
      |ORDER BY source""".stripMargin) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    val cov = Dedup.duplicatedSpanCoverage(docs, "doc_id", "text", 20)
    val tok = docs.select(col("doc_id"), col("source"),
      size(TextFns.tokens(col("text"))).as("n_tokens"))
    cov.join(tok, col("id") === col("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_dup_docs"),
        sum(col("dup_tokens")).as("dup_tokens"),
        round(avg(col("dup_tokens").cast("double") / col("n_tokens")), 4).as("avg_dup_frac"))
      .orderBy(col("source"))
  }

  /** Exact-substring dedup ENDPOINT (`Dedup.removeDuplicatedSpans`):
    * q83 measures duplicated-span coverage; this query ACTS on it —
    * every token inside a 20-token run occurring ≥ 2× in the corpus is
    * removed and the doc reassembled in order. The gate hashes each
    * doc's md5(clean_text), so the REASSEMBLY itself (interval union,
    * ordering, whitespace normalization, fully-deduplicated docs
    * emptying to "") is what's checked, not just counts. Scale: rebuild
    * cost ∝ touched docs only — see the operator scaladoc. */
  val q146SpanScrubbed = Q(
    "q146_span_scrubbed",
    """WITH docs AS (
      |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
      |  FROM documents),
      |sp AS (
      |  SELECT doc_id, i AS s,
      |    md5(list_aggregate(t[i:i+19], 'string_agg', ' ')) AS h
      |  FROM docs, unnest(range(1, len(t) - 18)) AS u(i)
      |  WHERE len(t) >= 20),
      |dup AS (SELECT h FROM sp GROUP BY h HAVING count(*) >= 2),
      |ds AS (SELECT doc_id, s FROM sp JOIN dup USING (h)),
      |touched AS (SELECT DISTINCT doc_id FROM ds),
      |cov AS (
      |  SELECT DISTINCT doc_id, pos
      |  FROM ds, unnest(range(s, s + 20)) AS v(pos)),
      |tok AS (
      |  SELECT dd.doc_id, u.i AS pos, dd.t[u.i] AS tk
      |  FROM (SELECT d.doc_id, d.t FROM docs d JOIN touched USING (doc_id)) dd,
      |    unnest(range(1, len(dd.t) + 1)) AS u(i)),
      |clean AS (
      |  SELECT tok.doc_id, tok.pos, tok.tk FROM tok
      |  WHERE NOT EXISTS (SELECT 1 FROM cov
      |    WHERE cov.doc_id = tok.doc_id AND cov.pos = tok.pos)),
      |reb AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
      |    string_agg(tk, ' ' ORDER BY pos) AS ct
      |  FROM clean GROUP BY doc_id),
      |unt AS (
      |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_kept,
      |    list_aggregate(t, 'string_agg', ' ') AS ct
      |  FROM docs WHERE doc_id NOT IN (SELECT doc_id FROM touched)),
      |tch AS (
      |  SELECT t.doc_id, coalesce(r.n_kept, 0) AS n_kept, coalesce(r.ct, '') AS ct
      |  FROM touched t LEFT JOIN reb r ON t.doc_id = r.doc_id),
      |allout AS (SELECT * FROM unt UNION ALL SELECT * FROM tch)
      |SELECT doc_id, CAST(n_kept AS BIGINT) AS n_kept, md5(ct) AS clean_md5
      |FROM allout ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    Dedup.removeDuplicatedSpans(Tables.documents(spark, dir), "doc_id", "text", 20)
      .select(col("id").as("doc_id"), col("n_kept"),
        md5(col("clean_text")).as("clean_md5"))
      .orderBy(col("doc_id"))
  }

  /** Weighted sampling without replacement (Efraimidis–Spirakis via
    * `Sampling.weightedSampleKey`): top-5 docs per language with
    * selection probability ∝ n_chars. The md5 uniform makes the SAMPLED
    * ROW SET engine-portable — the oracle re-derives the same keys and
    * must pick the identical docs. */
  val q84WeightedSample = Q(
    "q84_weighted_sample",
    """WITH keyed AS (
      |  SELECT lang, doc_id, n_chars,
      |    ln(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
      |       / 1152921504606846976.0) / n_chars AS k
      |  FROM documents),
      |ranked AS (
      |  SELECT lang, doc_id, n_chars,
      |    row_number() OVER (PARTITION BY lang ORDER BY k DESC, doc_id) AS rk
      |  FROM keyed)
      |SELECT lang, CAST(rk AS INT) AS rk, doc_id, n_chars
      |FROM ranked WHERE rk <= 5
      |ORDER BY lang, rk""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    import graft.functions.Sampling
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("k").desc, col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"), col("n_chars"),
        Sampling.weightedSampleKey(col("doc_id"), col("n_chars")).as("k"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("lang"), col("rk"), col("doc_id"), col("n_chars"))
      .orderBy(col("lang"), col("rk"))
  }

  /** Sparse TF-IDF cosine similarity join — the inverted-index
    * ("term-at-a-time") form: pair dot products accumulate over an
    * equi-join on the term, so candidate generation is the posting-list
    * join, never all-pairs. Terms are word 3-grams (the corpus draws
    * from a ~31-word vocabulary, so unigram TF-IDF is degenerate —
    * shingles give the sparse, doc-discriminating space). The vector
    * space is the df ∈ [2, dfMax] shingle vocabulary (df=1 terms can't
    * contribute to any pair; high-df terms are the hot-posting
    * quadratic risk, exactly the jaccard df-cap), with dfMax derived
    * from the corpus size IN the plan — `max(8, ⌊10·log₂(n_docs)⌋)`
    * (TextFns.dfMaxForCorpus, the bitsForCorpus treatment): pair work
    * stays O(n·log n) while the admitted band tracks corpus growth,
    * and the identical floor/log2 arithmetic is inlined in the oracle
    * so both engines select the same vocabulary. Weights/norms are
    * computed over that same vocabulary, so the cosine is exact in the
    * filtered space. Complements the DENSE embedding cosine path
    * (q31/q33/q34). */
  val q85TfidfCosinePairs = Q(
    "q85_tfidf_cosine_pairs",
    """WITH docs AS (
      |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS tk
      |  FROM documents),
      |toks AS (
      |  SELECT doc_id, s AS t FROM docs,
      |    unnest(list_transform(range(1, len(tk) - 1),
      |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS u(s)
      |  WHERE len(tk) >= 3),
      |tf AS (SELECT doc_id, t, count(*) AS cnt FROM toks GROUP BY 1, 2),
      |vocab AS (
      |  SELECT t, count(*) AS df FROM tf GROUP BY t
      |  HAVING count(*) BETWEEN 2 AND
      |    (SELECT greatest(8, CAST(floor(10 * log2(greatest(2, count(*)))) AS INT))
      |     FROM documents)),
      |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
      |w AS (
      |  SELECT doc_id, tf.t, tf.cnt * ln(n.n_docs / vocab.df) AS wgt
      |  FROM tf JOIN vocab ON tf.t = vocab.t CROSS JOIN n),
      |nrm AS (SELECT doc_id, sqrt(sum(wgt * wgt)) AS nr FROM w GROUP BY doc_id),
      |dots AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, sum(a.wgt * b.wgt) AS dot
      |  FROM w a JOIN w b ON a.t = b.t AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT id_a, id_b, round(dot / (na.nr * nb.nr), 4) AS cos
      |FROM dots
      |JOIN nrm na ON na.doc_id = id_a
      |JOIN nrm nb ON nb.doc_id = id_b
      |WHERE dot / (na.nr * nb.nr) >= 0.3
      |ORDER BY id_a, id_b""".stripMargin) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    // tf feeds both the df vocabulary and the weight/norm pass; a cut
    // did not pay at sf0.1 (LINEAGE_CUTS.md)
    val tf = docs
      .repartition(col("doc_id"))
      .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
      // codegen-narrow shingling (see TextFns.shinglePositions)
      .select(col("doc_id"), col("toks"),
        explode(TextFns.shinglePositions(col("toks"), 3)).as("i"))
      .select(col("doc_id"), TextFns.shingleAt(col("toks"), col("i"), 3).as("t"))
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("cnt"))
    val n = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    // dfMax derives from the corpus size inside the plan, riding the
    // same 1-row count broadcast the idf uses — no extra driver action
    val vocab = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
      .join(broadcast(n))
      .filter(col("df").between(lit(2),
        TextFns.dfMaxForCorpusCol(col("n_docs").cast("long"))))
      .select(col("t"), col("df"))
    // Normalize BEFORE the posting-list join (unit vectors), so the pair
    // aggregation IS the cosine — no norm table and no per-pair norm joins
    // after the (much larger) pair set exists. The norm is a window
    // aggregate riding one doc_id exchange, not a groupBy + self-join: the
    // latter would consume the tf⋈vocab pipeline twice (column pruning
    // diverges the subtrees, so ReuseExchange can't merge them — the q83
    // lesson). Numerically, Σ (a/|a|)(b/|b|) reassociates the oracle's
    // (Σ ab)/(|a||b|); at round(…,4) both dialects agree (oracle-checked).
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    val wn = tf.join(vocab, "t")
      .join(broadcast(n)) // 1-row bounded
      .select(col("doc_id"), col("t"),
        (col("cnt") * log(col("n_docs") / col("df"))).as("wgt"))
      .select(col("doc_id"), col("t"),
        (col("wgt") / sqrt(sum(col("wgt") * col("wgt")).over(byDoc))).as("u"))
      .repartition(col("t")) // one posting-list layout, reused by both join sides
    wn.as("a").join(wn.as("b"),
        col("a.t") === col("b.t") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(sum(col("a.u") * col("b.u")).as("cos_raw"))
      .filter(col("cos_raw") >= 0.3)
      .select(col("id_a"), col("id_b"), round(col("cos_raw"), 4).as("cos"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Gopher-style quality rule battery (Rae et al. 2021, "Scaling
    * Language Models: ... Gopher", §A1.1): the canonical pretraining
    * heuristics — word-count bounds, mean-word-length bounds,
    * alphabetic-word fraction, minimum stopword hits — each reported as
    * a per-source FAIL count plus the all-rules pass count, the
    * accounting view a pipeline uses to tune thresholds before
    * filtering. One narrow projection computes every per-doc metric from
    * a single tokenization (the q25 lesson: materialize `toks` once or
    * codegen re-inlines the regex split into each consumer), then one
    * hash aggregate by source; no joins, no second scan — at 100 TB this
    * is a map-side-combined single-shuffle shape like q24/q25. Rules
    * that never fire on this synthetic corpus (mean word length, alpha
    * fraction) still verify their computation through `avg_mwl` and the
    * pass count. */
  val q114GopherRules = Q(
    "q114_gopher_rules",
    """WITH t AS (
      |  SELECT source, string_split_regex(lower(text), '\s+') AS toks FROM documents),
      |m AS (
      |  SELECT source, len(toks) AS wc,
      |    list_avg(list_transform(toks, x -> length(x))) AS mwl,
      |    CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
      |      / len(toks) AS alpha_frac,
      |    len(list_filter(toks, x -> list_contains(['the','of','and','to','in'], x)))
      |      AS stop_hits
      |  FROM t)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(count(*) FILTER (wc < 30 OR wc > 5000) AS BIGINT) AS f_wordcount,
      |  CAST(count(*) FILTER (mwl < 3 OR mwl > 10) AS BIGINT) AS f_meanwordlen,
      |  CAST(count(*) FILTER (alpha_frac < 0.9) AS BIGINT) AS f_alpha,
      |  CAST(count(*) FILTER (stop_hits < 2) AS BIGINT) AS f_stopword,
      |  CAST(count(*) FILTER (wc BETWEEN 30 AND 5000 AND mwl BETWEEN 3 AND 10
      |       AND alpha_frac >= 0.9 AND stop_hits >= 2) AS BIGINT) AS n_pass,
      |  round(avg(mwl), 4) AS avg_mwl
      |FROM m GROUP BY source ORDER BY source""".stripMargin) { (spark, dir) =>
    val gopherStops = Seq("the", "of", "and", "to", "in")
    val m = Tables.documents(spark, dir)
      .select(col("source"), TextFns.tokens(col("text")).as("toks"))
      .select(col("source"),
        size(col("toks")).as("wc"),
        (aggregate(transform(col("toks"), t => length(t).cast("long")),
          lit(0L), (a, x) => a + x).cast("double") / size(col("toks"))).as("mwl"),
        (size(filter(col("toks"), t => t.rlike("[a-z]"))).cast("double") /
          size(col("toks"))).as("alpha_frac"),
        TextFns.markerHits(col("toks"), gopherStops).as("stop_hits"))
    def failCount(cond: org.apache.spark.sql.Column) =
      sum(when(cond, 1L).otherwise(0L))
    m.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        failCount(col("wc") < 30 || col("wc") > 5000).as("f_wordcount"),
        failCount(col("mwl") < 3 || col("mwl") > 10).as("f_meanwordlen"),
        failCount(col("alpha_frac") < 0.9).as("f_alpha"),
        failCount(col("stop_hits") < 2).as("f_stopword"),
        failCount(col("wc").between(30, 5000) && col("mwl").between(3, 10)
          && col("alpha_frac") >= 0.9 && col("stop_hits") >= 2).as("n_pass"),
        round(avg(col("mwl")), 4).as("avg_mwl"))
      .orderBy(col("source"))
  }

  /** End-to-end pipeline composition — the flagship "stages compose"
    * query: quality-filter (q25's thresholds) → exact dedup among the
    * survivors (q23's digest grouping, canonical row = min doc_id) →
    * per-language token accounting, all ONE declarative plan.
    *
    * Scale shape: the quality scoring is a narrow projection; the dedup
    * groupBy keys on the 16-byte md5 and carries only (doc_id, lang,
    * n_tokens) — the full text never shuffles; the final per-language
    * rollup is a map-side-combined aggregate over ≤ one row per distinct
    * digest. At 100 TB the only corpus-sized cost is the initial scan.
    */
  val q118PipelineE2e = Q(
    "q118_pipeline_e2e",
    """WITH scored AS (
      |  SELECT doc_id, lang, text,
      |    len(string_split_regex(lower(text), '\s+')) AS n_tokens,
      |    CASE WHEN length(text) = 0 THEN 0.0
      |         ELSE CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
      |              / length(text) END AS punct_ratio,
      |    CASE WHEN len(string_split_regex(lower(text), '\s+')) = 0 THEN 0.0
      |         ELSE CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
      |                t -> list_contains(['the','a','of','and','to','in','is','on','for'], t)))
      |              AS DOUBLE) / len(string_split_regex(lower(text), '\s+')) END AS stop_ratio
      |  FROM documents),
      |kept AS (
      |  SELECT doc_id, lang, text, n_tokens FROM scored
      |  WHERE n_tokens BETWEEN 10 AND 5000 AND punct_ratio < 0.2 AND stop_ratio >= 0.02),
      |canon AS (
      |  SELECT arg_min(lang, doc_id) AS lang, arg_min(n_tokens, doc_id) AS n_tokens
      |  FROM kept GROUP BY md5(text))
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
      |  round(avg(n_tokens), 4) AS avg_tokens
      |FROM canon GROUP BY lang ORDER BY lang""".stripMargin) { (spark, dir) =>
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("text"), TextFns.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("lang"), col("text"),
        size(col("toks")).as("n_tokens"),
        TextFns.punctRatio(col("text")).as("punct_ratio"),
        (TextFns.markerHits(col("toks"), Stopwords).cast("double") /
          greatest(size(col("toks")), lit(1))).as("stop_ratio"))
      .filter(col("n_tokens").between(10, 5000)
        && col("punct_ratio") < 0.2 && col("stop_ratio") >= 0.02)
      .groupBy(md5(col("text")))
      .agg(min_by(col("lang"), col("doc_id")).as("lang"),
        min_by(col("n_tokens"), col("doc_id")).as("n_tokens"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("total_tokens"),
        round(avg(col("n_tokens")), 4).as("avg_tokens"))
      .orderBy(col("lang"))
  }

  /** DSIR-style importance resampling weights (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): hashed
    * bigram features, per-bucket add-one-smoothed frequencies for a
    * target slice (lang='en') vs the raw corpus, per-doc log importance
    * weight = Σ_features log p_target(b) − log p_raw(b); top-20 docs.
    *
    * Scale shape: features stream through the codegen'd exploded-shingle
    * form; both frequency tables collapse to B=64 rows via map-side
    * partials (the shuffle carries 64 keys no matter the corpus size);
    * the per-doc weight is a broadcast join of that 64-row table plus one
    * (doc_id)-keyed partial-agg shuffle; top-20 is TakeOrdered. Nothing
    * grows with corpus size except the initial scan.
    */
  val q119DsirWeights: Q = {
    val B = 64
    Q("q119_dsir_weights",
      s"""WITH docs AS (
         |  SELECT doc_id, lang, string_split_regex(lower(text), '\\s+') AS t FROM documents),
         |feats AS (
         |  SELECT doc_id, lang, ('0x' || substr(md5(s), 1, 15))::BIGINT % $B AS b
         |  FROM docs, unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS u(s)
         |  WHERE len(t) >= 2),
         |raw AS (SELECT b, count(*) AS cr FROM feats GROUP BY b),
         |tgt AS (SELECT b, count(*) AS ct FROM feats WHERE lang = 'en' GROUP BY b),
         |ratio AS (
         |  SELECT raw.b,
         |    ln((coalesce(ct, 0) + 1.0) / ((SELECT sum(ct) FROM tgt) + $B.0))
         |      - ln((cr + 1.0) / ((SELECT sum(cr) FROM raw) + $B.0)) AS logw
         |  FROM raw LEFT JOIN tgt ON raw.b = tgt.b),
         |w AS (
         |  SELECT doc_id, any_value(lang) AS lang,
         |    round(sum(logw), 4) + 0.0 AS log_weight
         |  FROM feats JOIN ratio USING (b) GROUP BY doc_id)
         |SELECT doc_id, lang, log_weight
         |FROM w ORDER BY log_weight DESC, doc_id LIMIT 20""".stripMargin) { (spark, dir) =>
      val feats = Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), TextFns.tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("lang"),
          explode(TextFns.shinglePositions(col("toks"), 2)).as("pos"), col("toks"))
        .select(col("doc_id"), col("lang"),
          (Dedup.portableHash60(TextFns.shingleAt(col("toks"), col("pos"), 2)) % B).as("b"))
      val raw = feats.groupBy(col("b")).agg(count(lit(1)).as("cr"))
      val tgt = feats.filter(col("lang") === "en").groupBy(col("b")).agg(count(lit(1)).as("ct"))
      // collapse the 64-row frequency table through a global aggregate
      // into ONE row (bucket→counts map + totals): bounded by
      // construction, so the broadcast hint is provably safe, and the
      // per-feature lookup is an element_at instead of a join
      val freq = raw.join(tgt, Seq("b"), "left")
        .select(col("b"), col("cr"), coalesce(col("ct"), lit(0L)).as("ct"))
      val ratioRow = freq.agg(
        map_from_arrays(collect_list(col("b")),
          collect_list(struct(col("cr"), col("ct")))).as("m"),
        sum(col("cr")).as("r_tot"), sum(col("ct")).as("t_tot"))
      val e = element_at(col("m"), col("b"))
      feats.crossJoin(broadcast(ratioRow))
        .withColumn("logw",
          log((e.getField("ct") + 1).cast("double") / (col("t_tot") + B))
            - log((e.getField("cr") + 1).cast("double") / (col("r_tot") + B)))
        .groupBy(col("doc_id"))
        .agg(first(col("lang")).as("lang"),
          Q.noNegZero(round(sum(col("logw")), 4)).as("log_weight"))
        .orderBy(col("log_weight").desc, col("doc_id"))
        .limit(20)
    }
  }

  /** Tokenizer-sizing coverage curve: what fraction of all corpus token
    * OCCURRENCES the top-k vocabulary entries cover, for a ladder of
    * vocab sizes. Scale shape: the unigram table builds with one
    * map-side-combined shuffle; `orderBy.limit(maxK)` pins distributed
    * `TakeOrderedAndProject` so only maxK rows ever reach one machine;
    * the cumulative window then runs over ≤ maxK rows by construction;
    * the corpus total rides in on a broadcast 1-row aggregate.
    */
  val q120VocabCoverage: Q = {
    // rung spacing sized to the synthetic corpus's ~31-token vocab so the
    // gate checks a real curve (5 rungs), not just its first point; a real
    // tokenizer corpus would use (1k, 10k, 32k, 64k, 128k)
    val ks = Seq(5, 10, 15, 20, 25)
    val maxK = ks.max
    Q("q120_vocab_coverage",
      s"""WITH toks AS (
         |  SELECT unnest(string_split_regex(lower(text), '\\s+')) AS tok FROM documents),
         |vocab AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
         |top AS (
         |  SELECT tok, c, row_number() OVER (ORDER BY c DESC, tok) AS rk
         |  FROM vocab ORDER BY c DESC, tok LIMIT $maxK),
         |cum AS (SELECT rk, sum(c) OVER (ORDER BY rk) AS cc FROM top)
         |SELECT rk AS vocab_size,
         |  round(cc / (SELECT CAST(sum(c) AS DOUBLE) FROM vocab), 4) AS coverage
         |FROM cum WHERE rk IN (${ks.mkString(", ")})
         |ORDER BY vocab_size""".stripMargin) { (spark, dir) =>
      val vocab = Tables.documents(spark, dir)
        .select(explode(TextFns.tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      val total = vocab.agg(sum(col("c")).cast("double").as("tot"))
      val top = vocab.orderBy(col("c").desc, col("tok")).limit(maxK)
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy().orderBy(col("c").desc, col("tok"))
      top
        .withColumn("rk", row_number().over(win))
        .withColumn("cc", sum(col("c")).over(win))
        .filter(col("rk").isin(ks: _*))
        .crossJoin(broadcast(total))
        .select(col("rk").as("vocab_size"), round(col("cc") / col("tot"), 4).as("coverage"))
        .orderBy(col("vocab_size"))
    }
  }

  /** Data-mixing diagnostics: per-source KL divergence of the hashed
    * unigram-bucket distribution vs the whole corpus (add-one smoothing
    * over B=64 buckets). Complements the mixture sampler (q113): this is
    * the measurement side — which sources are distributionally far from
    * the mix they feed. Scale shape: one exploded-token pass collapses to
    * (source × 64) partial-agg rows; the corpus marginal is another
    * 64-row aggregate broadcast back; everything after the scan is
    * constant-size regardless of corpus bytes.
    */
  val q121SourceDivergence: Q = {
    val B = 64
    Q("q121_source_divergence",
      s"""WITH feats AS (
         |  SELECT source, ('0x' || substr(md5(s), 1, 15))::BIGINT % $B AS b
         |  FROM documents, unnest(string_split_regex(lower(text), '\\s+')) AS u(s)),
         |per_src AS (SELECT source, b, count(*) AS c FROM feats GROUP BY source, b),
         |corpus AS (SELECT b, count(*) AS cc FROM feats GROUP BY b),
         |tot AS (SELECT source, sum(c) AS st FROM per_src GROUP BY source),
         |all_tot AS (SELECT CAST(sum(cc) AS DOUBLE) AS at FROM corpus),
         |grid AS (
         |  SELECT t.source, t.st, g.b, coalesce(c.cc, 0) AS cc, coalesce(s.c, 0) AS c
         |  FROM tot t
         |  CROSS JOIN (SELECT unnest(range(0, $B)) AS b) g
         |  LEFT JOIN corpus c ON g.b = c.b
         |  LEFT JOIN per_src s ON t.source = s.source AND g.b = s.b)
         |SELECT source,
         |  CAST(st AS BIGINT) AS n_tokens,
         |  round(sum(((c + 1.0) / (st + $B.0))
         |    * ln(((c + 1.0) / (st + $B.0)) / ((cc + 1.0) / (a.at + $B.0)))), 4) + 0.0
         |    AS kl
         |FROM grid CROSS JOIN all_tot a
         |GROUP BY source, st
         |ORDER BY source""".stripMargin) { (spark, dir) =>
      val feats = Tables.documents(spark, dir)
        .select(col("source"), explode(TextFns.tokens(col("text"))).as("tok"))
        .select(col("source"), (Dedup.portableHash60(col("tok")) % B).as("b"))
      val perSrc = feats.groupBy(col("source"), col("b")).agg(count(lit(1)).as("c"))
      val srcTot = perSrc.groupBy(col("source")).agg(sum(col("c")).as("st"))
      // KL needs BOTH smoothed distributions over the full 64-bucket
      // support (a source-only or corpus-only bucket still contributes),
      // so expand each source to the full bucket range. The corpus
      // marginal collapses through a global aggregate into one
      // bucket→count map row — bounded by construction, broadcast-safe —
      // and the only corpus-sized work is the feats scan + partial aggs.
      val corpusRow = perSrc.groupBy(col("b")).agg(sum(col("c")).as("cc"))
        .agg(map_from_arrays(collect_list(col("b")), collect_list(col("cc"))).as("ccm"),
          sum(col("cc")).cast("double").as("at"))
      import spark.implicits._
      val buckets = (0L until B).toDF("b")
      val pS = (col("c") + 1.0) / (col("st") + B)
      val pC = (col("cc") + 1.0) / (col("at") + B)
      srcTot
        .crossJoin(broadcast(buckets))
        .join(perSrc, Seq("source", "b"), "left")
        .crossJoin(broadcast(corpusRow))
        .select(col("source"), col("st"),
          coalesce(element_at(col("ccm"), col("b")), lit(0L)).as("cc"),
          coalesce(col("c"), lit(0L)).as("c"), col("at"))
        .groupBy(col("source"), col("st"))
        .agg(Q.noNegZero(round(sum(pS * log(pS / pC)), 4)).as("kl"))
        .select(col("source"), col("st").cast("long").as("n_tokens"), col("kl"))
        .orderBy(col("source"))
    }
  }

  /** Prefix-filtered exact similarity join (Dedup.prefixFilterPairs):
    * the same answer as a naive exact Jaccard join — which is exactly
    * what the oracle computes, shingle-join-then-filter — but reached
    * through All-Pairs/PPJoin prefix pruning (global rarest-first
    * order, prefix-only candidate join, size filter, in-row exact
    * verify). The oracle being the NAIVE algorithm is the point: the
    * prefix filter is provably lossless, so the two evaluation
    * strategies must land on the same pair set. Odd-doc slice and
    * (n=4, t=0.6) keep it disjoint from q28's df-capped variant. */
  val q128PrefixFilterPairs = Q(
    "q128_prefix_filter_pairs",
    """WITH docs AS (
      |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
      |  FROM documents WHERE doc_id % 2 = 1),
      |sh AS (
      |  SELECT DISTINCT doc_id, s FROM docs,
      |    unnest(list_transform(range(1, len(t) - 2),
      |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS u(s)
      |  WHERE len(t) >= 4),
      |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT id_a, id_b,
      |  round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 4) AS jaccard
      |FROM inter
      |JOIN sizes sa ON sa.doc_id = id_a
      |JOIN sizes sb ON sb.doc_id = id_b
      |WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.6
      |ORDER BY id_a, id_b""".stripMargin) { (spark, dir) =>
    val docs = Tables.documents(spark, dir).filter(col("doc_id") % 2 === 1)
    Dedup.prefixFilterPairs(docs, "doc_id", "text", n = 4, threshold = 0.6)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Cross-doc shared-segment removal (Dedup.dropSharedSegments): the
    * CCNet/RefinedWeb line-dedup pass over 10-token segments — segments
    * appearing verbatim in ≥2 distinct docs are boilerplate/near-dup
    * carry-over and get cut; each doc comes back reassembled with a
    * dropped-segment count. Linear (two hash shuffles), no pair
    * generation — the pass that runs BEFORE the quadratic dedup family
    * in a production pipeline. */
  val q130SegmentDedup = Q(
    "q130_segment_dedup",
    """WITH docs AS (
      |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS t FROM documents),
      |segs AS (
      |  SELECT doc_id, CAST((s - 1) // 10 AS BIGINT) AS seg_idx,
      |    array_to_string(t[s : s + 9], ' ') AS seg
      |  FROM docs, unnest(range(1, len(t) + 1, 10)) AS u(s)),
      |df AS (
      |  SELECT seg, count(DISTINCT doc_id) AS ndocs FROM segs GROUP BY seg),
      |sj AS (SELECT s.doc_id, s.seg_idx, s.seg, df.ndocs
      |  FROM segs s JOIN df USING (seg))
      |SELECT d.doc_id,
      |  coalesce(string_agg(CASE WHEN sj.ndocs < 2 THEN sj.seg END, ' '
      |    ORDER BY sj.seg_idx), '') AS clean_text,
      |  count(CASE WHEN sj.ndocs >= 2 THEN 1 END) AS n_dropped
      |FROM docs d LEFT JOIN sj ON sj.doc_id = d.doc_id
      |GROUP BY d.doc_id
      |ORDER BY d.doc_id""".stripMargin) { (spark, dir) =>
    Dedup.dropSharedSegments(Tables.documents(spark, dir),
        "doc_id", "text", segTokens = 10, maxDocs = 2)
      .orderBy(col("doc_id"))
  }

  /** DuckDB twin of [[Bm25.postingIndex]], shared by every BM25 oracle
    * (q137/q141/q142/q169/q212/q213): the token arrays `docs` (carrying
    * `docCols`), the trigram shingles, tf, doc lengths, the df ∈
    * [2, dfMaxForCorpus] vocabulary and the precomputed doc-side weight
    * `w(doc_id, t, wgt)` = idf × tf saturation × length norm. */
  private def bm25IndexCtes(docCols: String): String = {
    import Bm25.{B, K1}
    s"""docs AS (
       |  SELECT $docCols, string_split_regex(lower(text), '\\s+') AS tk
       |  FROM documents),
       |toks AS (
       |  SELECT doc_id, s AS t FROM docs,
       |    unnest(list_transform(range(1, len(tk) - 1),
       |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS u(s)
       |  WHERE len(tk) >= 3),
       |tf AS (SELECT doc_id, t, count(*) AS cnt FROM toks GROUP BY 1, 2),
       |dl AS (SELECT doc_id, CAST(sum(cnt) AS DOUBLE) AS dl FROM tf GROUP BY doc_id),
       |stats AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl),
       |vocab AS (
       |  SELECT t, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY t
       |  HAVING count(*) BETWEEN 2 AND
       |    (SELECT greatest(8, CAST(floor(10 * log2(greatest(2, count(*)))) AS INT))
       |     FROM documents)),
       |w AS (
       |  SELECT tf.doc_id, tf.t,
       |    ln(1 + (s.n_docs - v.df + 0.5) / (v.df + 0.5)) *
       |      (tf.cnt * ${K1 + 1}) / (tf.cnt + $K1 * (${1 - B} + $B * d.dl / s.avgdl)) AS wgt
       |  FROM tf JOIN vocab v ON tf.t = v.t
       |  JOIN dl d ON d.doc_id = tf.doc_id CROSS JOIN stats s)""".stripMargin
  }

  /** MMR rerank at its deployed config (Carbonell–Goldstein, λ = 0.5):
    * three greedy picks over `cand(qid, doc_id, rel)`, each later round
    * scoring the remaining candidates by 0.5·rel − 0.5·max-sim-to-picked
    * on 6-dp-rounded candidate cosines, doc_id breaking every tie.
    * Returns the picks s1 (qid, doc_id, rel), s2 and s3 (qid, doc_id,
    * mmr). Shared by q142 and q213's `mmr` leg; [[mmrRoundsCtes]] is its
    * DuckDB twin. */
  private def mmrPicks(cand: org.apache.spark.sql.DataFrame,
      emb: org.apache.spark.sql.DataFrame): (org.apache.spark.sql.DataFrame,
      org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import graft.functions.VectorFns
    import org.apache.spark.sql.expressions.Window
    val candE = cand.join(
      emb.select(col("vec_id").as("doc_id"), col("embedding")), "doc_id")
    // (r15 audit: checkpointing this bounded pairwise-sim table was
    // measured SLOWER — the eager extra job costs more than the three
    // bounded re-references it saves; left lazy deliberately)
    val pair = candE.as("a").join(candE.as("b"),
        col("a.qid") === col("b.qid") && col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.qid").as("qid"), col("a.doc_id").as("da"),
        col("b.doc_id").as("db"),
        round(VectorFns.cosine(col("a.embedding"), col("b.embedding")), 6)
          .as("sim"))
    def top1(df: org.apache.spark.sql.DataFrame,
        order: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame =
      df.withColumn("__rn", row_number().over(
          Window.partitionBy(col("qid")).orderBy(order.desc, col("doc_id"))))
        .filter(col("__rn") === 1).drop("__rn")
    val s1 = top1(cand, col("rel"))
    val m2 = cand.as("c")
      .join(s1.as("s1"),
        col("c.qid") === col("s1.qid") && col("c.doc_id") =!= col("s1.doc_id"))
      .join(pair.as("p"), col("p.qid") === col("c.qid") &&
        col("p.da") === col("c.doc_id") && col("p.db") === col("s1.doc_id"))
      .select(col("c.qid").as("qid"), col("c.doc_id").as("doc_id"),
        col("c.rel").as("rel"),
        (lit(0.5) * col("c.rel") - lit(0.5) * col("p.sim")).as("mmr"))
    val s2 = top1(m2.select(col("qid"), col("doc_id"), col("mmr")), col("mmr"))
    val m3 = cand.as("c")
      .join(s1.as("s1"), col("c.qid") === col("s1.qid"))
      .join(s2.as("s2"), col("c.qid") === col("s2.qid"))
      .join(pair.as("p1"), col("p1.qid") === col("c.qid") &&
        col("p1.da") === col("c.doc_id") && col("p1.db") === col("s1.doc_id"))
      .join(pair.as("p2"), col("p2.qid") === col("c.qid") &&
        col("p2.da") === col("c.doc_id") && col("p2.db") === col("s2.doc_id"))
      .filter(col("c.doc_id") =!= col("s1.doc_id")
        && col("c.doc_id") =!= col("s2.doc_id"))
      .select(col("c.qid").as("qid"), col("c.doc_id").as("doc_id"),
        (lit(0.5) * col("c.rel")
          - lit(0.5) * greatest(col("p1.sim"), col("p2.sim"))).as("mmr"))
    (s1, s2, top1(m3, col("mmr")))
  }

  /** DuckDB twin of [[mmrPicks]] over a `cand(qid, doc_id, rel)` CTE:
    * the pairwise `pair` sims and the rounds s1..s3. */
  private def mmrRoundsCtes: String =
    """pair AS (
      |  SELECT a.qid, a.doc_id AS da, b.doc_id AS db,
      |    round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
      |                                 CAST(eb.embedding AS DOUBLE[])), 6) AS sim
      |  FROM cand a JOIN cand b ON a.qid = b.qid AND a.doc_id <> b.doc_id
      |  JOIN embeddings ea ON ea.vec_id = a.doc_id
      |  JOIN embeddings eb ON eb.vec_id = b.doc_id),
      |s1 AS (
      |  SELECT qid, doc_id, rel FROM (
      |    SELECT qid, doc_id, rel,
      |      row_number() OVER (PARTITION BY qid ORDER BY rel DESC, doc_id) AS rn
      |    FROM cand) WHERE rn = 1),
      |m2 AS (
      |  SELECT c.qid, c.doc_id, c.rel, 0.5 * c.rel - 0.5 * p.sim AS mmr
      |  FROM cand c
      |  JOIN s1 ON s1.qid = c.qid AND c.doc_id <> s1.doc_id
      |  JOIN pair p ON p.qid = c.qid AND p.da = c.doc_id AND p.db = s1.doc_id),
      |s2 AS (
      |  SELECT qid, doc_id, mmr FROM (
      |    SELECT qid, doc_id, mmr,
      |      row_number() OVER (PARTITION BY qid ORDER BY mmr DESC, doc_id) AS rn
      |    FROM m2) WHERE rn = 1),
      |m3 AS (
      |  SELECT c.qid, c.doc_id,
      |    0.5 * c.rel - 0.5 * greatest(p1.sim, p2.sim) AS mmr
      |  FROM cand c
      |  JOIN s1 ON s1.qid = c.qid
      |  JOIN s2 ON s2.qid = c.qid
      |  JOIN pair p1 ON p1.qid = c.qid AND p1.da = c.doc_id AND p1.db = s1.doc_id
      |  JOIN pair p2 ON p2.qid = c.qid AND p2.da = c.doc_id AND p2.db = s2.doc_id
      |  WHERE c.doc_id <> s1.doc_id AND c.doc_id <> s2.doc_id),
      |s3 AS (
      |  SELECT qid, doc_id, mmr FROM (
      |    SELECT qid, doc_id, mmr,
      |      row_number() OVER (PARTITION BY qid ORDER BY mmr DESC, doc_id) AS rn
      |    FROM m3) WHERE rn = 1)""".stripMargin

  /** BM25 top-k retrieval — the sparse-retrieval baseline every RAG
    * pipeline benchmarks against (Robertson–Spärck Jones probabilistic
    * idf, k1 = 1.2, b = 0.75). Same inverted-index discipline as q85:
    * the query set (every 97th doc, its distinct shingles) meets the
    * corpus through a posting-list equi-join on the term — never
    * query×corpus — and the df ∈ [2, dfMaxForCorpus] window bounds the
    * hottest posting list, so candidate volume is O(q_terms ·
    * bounded_df). Doc-side weights are fully precomputed (idf × tf
    * saturation × length norm, dl via a window sum riding the tf
    * exchange), so scoring is one sum per (query, doc) pair; top-k is
    * a per-query row_number window. Scores round to 4 decimals BEFORE
    * ranking with doc_id as tiebreak, so the cutoff is deterministic
    * in both engines (the q85 rounding contract applied to ranks). */
  val q137Bm25TopK = Q(
    "q137_bm25_topk",
    s"""WITH ${bm25IndexCtes("doc_id")},
      |q AS (SELECT DISTINCT doc_id AS qid, t FROM tf WHERE doc_id % 97 = 0),
      |sc AS (
      |  SELECT q.qid, w.doc_id, round(sum(w.wgt), 4) AS score
      |  FROM q JOIN w ON q.t = w.t AND w.doc_id <> q.qid
      |  GROUP BY 1, 2),
      |rk AS (
      |  SELECT qid, doc_id, score,
      |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rnk
      |  FROM sc)
      |SELECT qid, CAST(rnk AS INT) AS rnk, doc_id, score
      |FROM rk WHERE rnk <= 5
      |ORDER BY qid, rnk""".stripMargin) { (spark, dir) =>
    Bm25.topK(Tables.documents(spark, dir), "doc_id", "text",
        querySelector = col("doc_id") % 97 === 0, k = 5)
      .orderBy(col("qid"), col("rnk"))
  }

  /** q212's probe set — every 7th doc with >= 3 tokens, at doc grain
    * (the denominator side; a member always yields >= 1 query shingle). */
  private[queries] def bm25KnownItemProbes(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.filter(col("doc_id") % 7 === 0
        && size(TextFns.tokens(col("text"))) >= 3)
      .select(col("doc_id").as("qid"), col("source"))

  /** q212's query terms — each probe doc's opening (first 6 tokens ->
    * its <= 4 distinct shingles), shared with StatsSpec's replay so the
    * probe construction cannot drift between query and test. */
  private[queries] def bm25KnownItemQueries(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id").as("qid"), col("source"),
        slice(TextFns.tokens(col("text")), 1, 6).as("half"))
      .filter(size(col("half")) >= 3)
      .select(col("qid"), col("source"), col("half"),
        explode(TextFns.shinglePositions(col("half"), 3)).as("i"))
      .select(col("qid"), col("source"),
        TextFns.shingleAt(col("half"), col("i"), 3).as("t"))
      .distinct()

  /** Retrieval-quality metrics for the BM25 ranker — the eval leg the
    * retrieval stack was missing (q153/q155/q202/q204 evaluate the
    * CLASSIFIER; q103 evaluates ANN recall; nothing scored the RANKERS
    * q137/q141/q142/q169 rank with). KNOWN-ITEM evaluation — the one
    * ranking eval whose ground truth exists on ANY corpus: the query
    * is a doc's own opening (first 6 tokens → 4 shingles, every 7th
    * doc), the uniquely relevant result is the source document itself
    * (so `topKAgainstIndex(excludeSelf = false)`), and the per-source
    * report carries MRR@10, nDCG@10 (single-relevant: 1/log₂(1+rank)),
    * hit@1 and hit@10. The short shared prefix is what makes the task
    * non-trivial — template openings collide across documents, so the
    * ranker must win on the tf/idf/length evidence, and the measured
    * corpus values sit strictly inside (0, 1) rather than saturating.
    *
    * Exactness (the house discipline for "mean of per-query ratios"):
    * a rank ∈ 1..10 admits only ten values of 1/rank and
    * 1/log₂(rank+1), each quantized per query to the 1e9 grid
    * (`round(1e9/rank)`, `round(1e9/log2(rank+1))` — none of the ten
    * constants sits near a rounding boundary), so every per-source
    * aggregate is an exact BIGINT sum and only the final divisions are
    * float. A probe whose source doc misses the top 10 contributes 0
    * to every metric but stays in the denominator (LEFT join from the
    * probe set, which requires ≥ 3 tokens in both dialects). Headroom:
    * per-query terms ≤ 1e9 → BIGINT sums hold to ~9e9 probes/source. */
  val q212RetrievalNdcg = Q(
    "q212_retrieval_ndcg",
    s"""WITH ${bm25IndexCtes("doc_id, source")},
      |qt AS (
      |  SELECT DISTINCT qid, source,
      |    half[i] || ' ' || half[i+1] || ' ' || half[i+2] AS t
      |  FROM (SELECT doc_id AS qid, source, tk[1 : 6] AS half
      |        FROM docs WHERE doc_id % 7 = 0 AND len(tk) >= 3) h,
      |    unnest(range(1, len(half) - 1)) AS u(i)),
      |sc AS (
      |  SELECT q.qid, w.doc_id, round(sum(w.wgt), 4) AS score
      |  FROM (SELECT DISTINCT qid, t FROM qt) q JOIN w ON q.t = w.t
      |  GROUP BY 1, 2),
      |rk AS (
      |  SELECT qid, doc_id,
      |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rnk
      |  FROM sc),
      |hit AS (SELECT qid, rnk FROM rk WHERE rnk <= 10 AND doc_id = qid),
      |probes AS (
      |  SELECT doc_id AS qid, source FROM docs
      |  WHERE doc_id % 7 = 0 AND len(tk) >= 3),
      |perq AS (
      |  SELECT pr.source,
      |    coalesce(CAST(round(1e9 / h.rnk) AS BIGINT), 0) AS rr,
      |    coalesce(CAST(round(1e9 / log2(h.rnk + 1)) AS BIGINT), 0) AS dg,
      |    CASE WHEN h.rnk = 1 THEN 1 ELSE 0 END AS h1,
      |    CASE WHEN h.rnk IS NOT NULL THEN 1 ELSE 0 END AS h10
      |  FROM probes pr LEFT JOIN hit h ON h.qid = pr.qid)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_queries,
      |  round(CAST(sum(rr) AS DOUBLE) / (count(*) * 1e9), 6) AS mrr_at_10,
      |  round(CAST(sum(dg) AS DOUBLE) / (count(*) * 1e9), 6) AS ndcg_at_10,
      |  round(CAST(sum(h1) AS DOUBLE) / count(*), 6) AS hit_at_1,
      |  round(CAST(sum(h10) AS DOUBLE) / count(*), 6) AS hit_at_10
      |FROM perq GROUP BY source
      |ORDER BY source""".stripMargin) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    // cutLineage = false: the posting cut costs this one-pass query
    // 0.41 → 1.15 s at sf0.1 (LINEAGE_CUTS.md)
    val index = Bm25.postingIndex(docs, "doc_id", "text",
        cutLineage = false)
      .repartition(col("t"))
    val top = Bm25.topKAgainstIndex(
      bm25KnownItemQueries(docs).select(col("qid"), col("t")), index,
      "doc_id", k = 10, excludeSelf = false)
    val hit = top.filter(col("doc_id") === col("qid"))
      .select(col("qid"), col("rnk"))
    // the denominator needs only probe MEMBERSHIP (a doc with >= 3
    // tokens always yields >= 1 shingle), so it is a doc-grain
    // predicate — not a second run of the shingle explode + distinct
    bm25KnownItemProbes(docs)
      .join(hit, Seq("qid"), "left")
      .select(col("source"),
        coalesce(round(lit(1e9) / col("rnk")).cast("long"), lit(0L)).as("rr"),
        coalesce(round(lit(1e9) / log2(col("rnk") + 1)).cast("long"), lit(0L))
          .as("dg"),
        when(col("rnk") === 1, 1L).otherwise(0L).as("h1"),
        when(col("rnk").isNotNull, 1L).otherwise(0L).as("h10"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_queries"),
        round(sum(col("rr")).cast("double") / (count(lit(1)) * 1e9), 6)
          .as("mrr_at_10"),
        round(sum(col("dg")).cast("double") / (count(lit(1)) * 1e9), 6)
          .as("ndcg_at_10"),
        round(sum(col("h1")).cast("double") / count(lit(1)), 6).as("hit_at_1"),
        round(sum(col("h10")).cast("double") / count(lit(1)), 6).as("hit_at_10"))
      .orderBy(col("source"))
  }

  /** Retrieval-quality for the FULL deployed chain, side by side —
    * q212 scores only the raw BM25 ranker, but the rankers users
    * actually run are q141's cosine rerank, q142's MMR
    * diversification, and q169's RRF fusion, and none of them had a
    * quality number (q142's diversification could be HURTING known-item
    * retrieval and nothing would show it). Same known-item harness as
    * q212 ([[bm25KnownItemProbes]]/[[bm25KnownItemQueries]] — shared,
    * so the fixtures cannot drift apart), ONE posting-index candidate
    * stage shared by all four legs (lineage cut once, the q142
    * pattern), then per (source, leg): MRR, nDCG, hit@1, hit@depth on
    * the same 1e9-grid exact BIGINT sums as q212.
    *
    * The four legs, each at its DEPLOYED configuration:
    *  - `bm25`   — the shared BM25 top-10 itself (depth 10, ≡ q212);
    *  - `rerank` — q141's stage 2: cosine of each candidate's embedding
    *    against the probe doc's own embedding re-ranks the 10 (depth
    *    10). Known-item makes this leg STRUCTURALLY saturating — the
    *    query embedding IS the target's embedding (cos = 1.0), so
    *    rerank recovers every candidate-set hit to rank 1 (modulo
    *    6-dp cosine ties losing the doc_id tiebreak to a near-dup):
    *    measured, its MRR rides the hit@10 ceiling. That is the honest
    *    upper envelope of dense reranking on this harness, not a bug —
    *    documented here so nobody reads it as "rerank is perfect";
    *  - `mmr`    — q142's deployed config exactly (λ=0.5, 3 greedy
    *    picks from the BM25 top-5, unrolled rounds, pre-rounded
    *    rel/sim, doc_id tiebreaks), depth 3: a probe whose target is
    *    diversified out of the 3-slot page scores 0 — the measured
    *    MRR delta vs `bm25` is the price of diversification on
    *    known-item traffic (nonzero on this corpus);
    *  - `rrf`    — q169's Σ 1/(60+rank) fusion of the sparse rank and
    *    the dense (rerank) rank over the SHARED candidate pool (depth
    *    10). q169's corpus-wide brute-force dense leg would cost
    *    |corpus|/7 × |corpus| cosines at this probe grain — the eval
    *    stays candidate-bounded by fusing two rankings of the same
    *    top-10, the standard common-pool RRF deployment.
    *
    * Exactness: rank metrics quantize per query to the 1e9 grid
    * (q212's discipline); the rerank order runs on 6-dp-rounded
    * [[Q.noNegZero]]-finished cosines; MMR rounds run on pre-rounded
    * rel(4dp)/sim(6dp) with doc_id tiebreaks (q142's discipline); the
    * RRF score is a two-term expression over integer ranks rounded at
    * 7dp (q169's). All joins are equi-joins on qid/doc_id over
    * |probes|×10-bounded relations — the corpus is touched only by the
    * shared posting stage and the embedding lookups. */
  val q213ChainNdcg = Q(
    "q213_chain_ndcg",
    s"""WITH ${bm25IndexCtes("doc_id, source")},
      |qt AS (
      |  SELECT DISTINCT qid, half[i] || ' ' || half[i+1] || ' ' || half[i+2] AS t
      |  FROM (SELECT doc_id AS qid, tk[1 : 6] AS half
      |        FROM docs WHERE doc_id % 7 = 0 AND len(tk) >= 3) h,
      |    unnest(range(1, len(half) - 1)) AS u(i)),
      |sc AS (
      |  SELECT q.qid, w.doc_id, round(sum(w.wgt), 4) AS score
      |  FROM qt q JOIN w ON q.t = w.t
      |  GROUP BY 1, 2),
      |top10 AS (
      |  SELECT qid, doc_id, score, CAST(rnk AS INT) AS rnk FROM (
      |    SELECT qid, doc_id, score,
      |      row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rnk
      |    FROM sc) WHERE rnk <= 10),
      |rr AS (
      |  SELECT c.qid, c.doc_id,
      |    row_number() OVER (PARTITION BY c.qid
      |      ORDER BY round(list_cosine_similarity(CAST(ed.embedding AS DOUBLE[]),
      |                     CAST(eq.embedding AS DOUBLE[])), 6) + 0.0 DESC,
      |        c.doc_id) AS rnk
      |  FROM top10 c
      |  JOIN embeddings ed ON ed.vec_id = c.doc_id
      |  JOIN embeddings eq ON eq.vec_id = c.qid),
      |cand AS (SELECT qid, doc_id, score AS rel FROM top10 WHERE rnk <= 5),
      |$mmrRoundsCtes,
      |mmrleg AS (
      |  SELECT qid, doc_id, 1 AS rnk FROM s1
      |  UNION ALL SELECT qid, doc_id, 2 FROM s2
      |  UNION ALL SELECT qid, doc_id, 3 FROM s3),
      |rrf0 AS (
      |  SELECT t.qid, t.doc_id,
      |    round(1.0 / (60 + t.rnk) + 1.0 / (60 + r.rnk), 7) AS rrf
      |  FROM top10 t JOIN rr r ON r.qid = t.qid AND r.doc_id = t.doc_id),
      |rrfleg AS (
      |  SELECT qid, doc_id, row_number() OVER (PARTITION BY qid
      |    ORDER BY rrf DESC, doc_id) AS rnk
      |  FROM rrf0),
      |hits AS (
      |  SELECT 'bm25' AS leg, qid, rnk FROM top10 WHERE doc_id = qid
      |  UNION ALL SELECT 'rerank', qid, rnk FROM rr WHERE doc_id = qid
      |  UNION ALL SELECT 'mmr', qid, rnk FROM mmrleg WHERE doc_id = qid
      |  UNION ALL SELECT 'rrf', qid, rnk FROM rrfleg WHERE doc_id = qid),
      |probes AS (
      |  SELECT doc_id AS qid, source FROM docs
      |  WHERE doc_id % 7 = 0 AND len(tk) >= 3),
      |perq AS (
      |  SELECT pr.source, l.leg,
      |    coalesce(CAST(round(1e9 / h.rnk) AS BIGINT), 0) AS rr_t,
      |    coalesce(CAST(round(1e9 / log2(h.rnk + 1)) AS BIGINT), 0) AS dg,
      |    CASE WHEN h.rnk = 1 THEN 1 ELSE 0 END AS h1,
      |    CASE WHEN h.rnk IS NOT NULL THEN 1 ELSE 0 END AS hk
      |  FROM probes pr CROSS JOIN (VALUES ('bm25'),('rerank'),('mmr'),('rrf')) l(leg)
      |  LEFT JOIN hits h ON h.qid = pr.qid AND h.leg = l.leg)
      |SELECT source, leg,
      |  CAST(CASE WHEN leg = 'mmr' THEN 3 ELSE 10 END AS INT) AS depth,
      |  CAST(count(*) AS BIGINT) AS n_queries,
      |  round(CAST(sum(rr_t) AS DOUBLE) / (count(*) * 1e9), 6) AS mrr,
      |  round(CAST(sum(dg) AS DOUBLE) / (count(*) * 1e9), 6) AS ndcg,
      |  round(CAST(sum(h1) AS DOUBLE) / count(*), 6) AS hit_at_1,
      |  round(CAST(sum(hk) AS DOUBLE) / count(*), 6) AS hit_at_k
      |FROM perq GROUP BY source, leg
      |ORDER BY source, leg""".stripMargin) { (spark, dir) =>
    import graft.functions.VectorFns
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val index = Bm25.postingIndex(docs, "doc_id", "text")
      .repartition(col("t"))
    // ONE candidate stage for all four legs; the lineage is the whole
    // BM25 pipeline and downstream references it many times — cut it
    // once so the posting join runs once (the q142 pattern)
    val top10 = Bm25.topKAgainstIndex(
        bm25KnownItemQueries(docs).select(col("qid"), col("t")), index,
        "doc_id", k = 10, excludeSelf = false)
      .localCheckpoint()
    val emb = Tables.embeddings(spark, dir)
    // leg 2: dense rerank of the shared candidates (query = probe
    // doc's own embedding — the known-item saturation documented
    // above); read by the hits union and the RRF fusion, not cut: a
    // cut did not pay at sf0.1 (LINEAGE_CUTS.md)
    val rr = top10
      .join(emb.select(col("vec_id").as("doc_id"), col("embedding").as("e_d")),
        "doc_id")
      .join(emb.select(col("vec_id").as("qid"), col("embedding").as("e_q")),
        "qid")
      .select(col("qid"), col("doc_id"),
        Q.noNegZero(round(VectorFns.cosine(col("e_d"), col("e_q")), 6)).as("cos"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("doc_id"))))
      .select(col("qid"), col("doc_id"), col("rnk"))
    // leg 3: q142's MMR at its deployed config — λ=0.5, 3 picks from
    // the BM25 top-5, unrolled greedy rounds over O(probes×5) rows
    val (s1, s2, s3) = mmrPicks(top10.filter(col("rnk") <= 5)
      .select(col("qid"), col("doc_id"), col("score").as("rel")), emb)
    val mmrleg =
      s1.select(col("qid"), col("doc_id"), lit(1).as("rnk"))
        .unionAll(s2.select(col("qid"), col("doc_id"), lit(2).as("rnk")))
        .unionAll(s3.select(col("qid"), col("doc_id"), lit(3).as("rnk")))
    // leg 4: q169's RRF over the shared pool — both ranks always
    // present (same candidate set), so a plain equi-join fuses them
    val rrfleg = top10.select(col("qid"), col("doc_id"), col("rnk").as("rs"))
      .join(rr.select(col("qid"), col("doc_id"), col("rnk").as("rd")),
        Seq("qid", "doc_id"))
      .select(col("qid"), col("doc_id"),
        round(lit(1.0) / (lit(60) + col("rs"))
          + lit(1.0) / (lit(60) + col("rd")), 7).as("rrf"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("rrf").desc, col("doc_id"))))
    val hits =
      top10.filter(col("doc_id") === col("qid"))
        .select(lit("bm25").as("leg"), col("qid"), col("rnk"))
      .unionAll(rr.filter(col("doc_id") === col("qid"))
        .select(lit("rerank").as("leg"), col("qid"), col("rnk")))
      .unionAll(mmrleg.filter(col("doc_id") === col("qid"))
        .select(lit("mmr").as("leg"), col("qid"), col("rnk")))
      .unionAll(rrfleg.filter(col("doc_id") === col("qid"))
        .select(lit("rrf").as("leg"), col("qid"), col("rnk")))
    // denominator: probe membership × the 4-leg literal, exploded
    // IN-ROW (no join); a probe whose target misses a leg's list
    // contributes 0 to every metric but stays in that leg's count
    bm25KnownItemProbes(docs)
      .withColumn("leg", explode(array(
        lit("bm25"), lit("mmr"), lit("rerank"), lit("rrf"))))
      .join(hits, Seq("qid", "leg"), "left")
      .select(col("source"), col("leg"),
        coalesce(round(lit(1e9) / col("rnk")).cast("long"), lit(0L)).as("rr_t"),
        coalesce(round(lit(1e9) / log2(col("rnk") + 1)).cast("long"), lit(0L))
          .as("dg"),
        when(col("rnk") === 1, 1L).otherwise(0L).as("h1"),
        when(col("rnk").isNotNull, 1L).otherwise(0L).as("hk"))
      .groupBy(col("source"), col("leg"))
      .agg(count(lit(1)).as("n_queries"),
        round(sum(col("rr_t")).cast("double") / (count(lit(1)) * 1e9), 6)
          .as("mrr"),
        round(sum(col("dg")).cast("double") / (count(lit(1)) * 1e9), 6)
          .as("ndcg"),
        round(sum(col("h1")).cast("double") / count(lit(1)), 6).as("hit_at_1"),
        round(sum(col("hk")).cast("double") / count(lit(1)), 6).as("hit_at_k"))
      .select(col("source"), col("leg"),
        when(col("leg") === "mmr", 3).otherwise(10).cast("int").as("depth"),
        col("n_queries"), col("mrr"), col("ndcg"),
        col("hit_at_1"), col("hit_at_k"))
      .orderBy(col("source"), col("leg"))
  }

  /** Training-shard manifest — [[Sampling.assignShards]] over the
    * corpus (16 shards), reduced to the per-shard manifest a trainer
    * reads before an epoch: doc count, byte mass, and an
    * order-sensitive checksum (Σ pos·(doc_id mod 997)) that hash-gates
    * the WITHIN-SHARD ORDER itself, not just membership — any
    * divergence in the epoch-shuffle permutation between engines moves
    * the checksum. Output is O(nShards) rows however large the corpus;
    * the only exchange is the per-shard window (nShards tracks cluster
    * parallelism at scale — 16 here mirrors local[32]'s budget). */
  val q138TrainShards = Q(
    "q138_train_shards",
    """WITH h AS (
      |  SELECT doc_id, n_chars,
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS gh
      |  FROM documents),
      |p AS (
      |  SELECT doc_id, n_chars, gh % 16 AS shard,
      |    row_number() OVER (PARTITION BY gh % 16 ORDER BY gh, doc_id) AS pos
      |  FROM h)
      |SELECT CAST(shard AS INT) AS shard,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(sum(pos * (doc_id % 997)) AS BIGINT) AS ord_checksum
      |FROM p GROUP BY shard
      |ORDER BY shard""".stripMargin) { (spark, dir) =>
    Sampling.assignShards(Tables.documents(spark, dir), col("doc_id"), 16)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(col("pos") * (col("doc_id") % 997)).as("ord_checksum"))
      .orderBy(col("shard"))
  }

  /** Rendezvous-shard manifest — [[Sampling.rendezvousShard]] over the
    * corpus: q138's mod-sharding rehashes (N-1)/N of the corpus when N
    * grows; HRW moves only the new shard's winners (≈ 1/(N+1)) — the
    * reshard-in-place story a growing 100 TB store needs
    * (SamplingSpec proves the movement property; this query hash-gates
    * the assignment itself). The in-row argmax keeps the corpus
    * unshuffled; the oracle replays the same (score DESC, shard ASC)
    * pick relationally over an exploded (doc × shard) grid. */
  val q140RendezvousShards = Q(
    "q140_rendezvous_shards",
    """WITH hs AS (
      |  SELECT doc_id, n_chars, s,
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#' || CAST(s AS VARCHAR)),
      |      1, 15))::BIGINT AS h
      |  FROM documents, unnest(range(0, 16)) AS u(s)),
      |pick AS (
      |  SELECT doc_id, n_chars, s AS shard,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY h DESC, s) AS rn
      |  FROM hs)
      |SELECT CAST(shard AS INT) AS shard,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM pick WHERE rn = 1
      |GROUP BY shard
      |ORDER BY shard""".stripMargin) { (spark, dir) =>
    Tables.documents(spark, dir)
      .select(Sampling.rendezvousShard(col("doc_id"), 16).as("shard"), col("n_chars"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("shard"))
  }

  /** Verbatim 8-gram novelty / memorization screen — the
    * span-granular sibling of q68's document-level contamination
    * check, and the standard audit run over GENERATED or suspect text
    * before it enters a training mix (Carlini et al.'s verbatim-recall
    * framing made relational): for each held-out document
    * (doc_id % 2 = 1), what fraction of its distinct 8-token spans
    * appears verbatim anywhere in the train half? Per source: span
    * totals, the novelty rate, and the count of documents whose spans
    * are ≥ 50% memorized (the per-doc flag a filtering pipeline acts
    * on). q68 asks "does this doc share ≥3 rare 3-grams with a tiny
    * benchmark"; this asks "how much of this doc is a verbatim copy of
    * the corpus" — different span width, different denominator,
    * different action.
    *
    * Scale: one shingle equi-join (shuffle by span hash), train side
    * DISTINCT — the q68 class; everything after is doc- then
    * source-grain. Exactness: BIGINT counts, one final division; the
    * ≥50% flag is the integer comparison 2·seen ≥ spans. Sub-8-token
    * docs have no spans and are excluded from the denominator
    * (documented — no span method can screen them). */
  val q234NgramNovelty = Q(
    "q234_ngram_novelty",
    """WITH docs AS (
      |  SELECT doc_id, source, string_split_regex(lower(text), '\s+') AS t
      |  FROM documents),
      |sp AS (
      |  SELECT DISTINCT doc_id, source,
      |    ('0x' || substr(md5(s), 1, 15))::BIGINT AS sh
      |  FROM docs,
      |    unnest(list_transform(range(1, len(t) - 6),
      |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
      |        || ' ' || t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7]))
      |    AS u(s)
      |  WHERE len(t) >= 8 AND doc_id % 2 = 1),
      |tr AS (
      |  SELECT DISTINCT ('0x' || substr(md5(s), 1, 15))::BIGINT AS sh
      |  FROM docs,
      |    unnest(list_transform(range(1, len(t) - 6),
      |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
      |        || ' ' || t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7]))
      |    AS u(s)
      |  WHERE len(t) >= 8 AND doc_id % 2 = 0),
      |per AS (
      |  SELECT sp.doc_id, sp.source,
      |    CAST(count(*) AS BIGINT) AS n_spans,
      |    CAST(sum(CASE WHEN tr.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_seen
      |  FROM sp LEFT JOIN tr ON tr.sh = sp.sh
      |  GROUP BY 1, 2)
      |SELECT source,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_spans) AS BIGINT) AS n_spans,
      |  CAST(sum(n_seen) AS BIGINT) AS n_seen,
      |  round(CAST(sum(n_spans) - sum(n_seen) AS DOUBLE) / sum(n_spans), 6)
      |    AS novelty_rate,
      |  CAST(sum(CASE WHEN 2 * n_seen >= n_spans THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_flagged
      |FROM per
      |GROUP BY source
      |ORDER BY source""".stripMargin) { (spark, dir) =>
    import graft.functions.TextFns
    import graft.operators.Dedup
    // spans travel as 60-bit portable fingerprints (the q28 hashing
    // precedent): the join shuffles 8 bytes per span instead of the
    // ~50-byte raw string — measured 13 s -> seconds at the x1 probe.
    // A fingerprint collision flips one span to "seen" with p ~ 2^-60
    // per pair, IDENTICALLY in both engines (same md5), so the oracle
    // compare is unaffected and the metric error is negligible by
    // construction (documented approximation, like every q28-family op)
    // the SHARED span-fingerprint operator (Dedup.spanFingerprints —
    // codegen-narrow positions/shingleAt pipeline, 60-bit portable
    // hashes; the streaming incremental store lands the identical
    // deltas, so the standing screen and this batch audit cannot
    // disagree)
    def spans(half: Int) = Dedup.spanFingerprints(
        Tables.documents(spark, dir).filter(col("doc_id") % 2 === half),
        "doc_id", "text", n = 8, carry = Seq("source"))
      .withColumnRenamed("id", "doc_id")
    val tr = spans(0).select(col("sh")).distinct()
    val per = spans(1)
      .join(tr.withColumn("seen", lit(1)), Seq("sh"), "left")
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_spans"),
        sum(coalesce(col("seen"), lit(0))).cast("long").as("n_seen"))
    per.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_spans")).as("n_spans"),
        sum(col("n_seen")).as("n_seen"),
        round((sum(col("n_spans")) - sum(col("n_seen"))).cast("double")
          / sum(col("n_spans")), 6).as("novelty_rate"),
        sum(when(lit(2) * col("n_seen") >= col("n_spans"), 1L).otherwise(0L))
          .as("n_flagged"))
      .orderBy(col("source"))
  }

  /** Reshard-movement audit — the operational number behind choosing a
    * shard-assignment strategy (completes the q138/q140 family): when
    * the shard count grows 16 → 17, what fraction of the corpus MOVES
    * under (a) mod-hash and (b) rendezvous/HRW assignment? Mod-hash
    * remaps ~S/(S+1) ≈ 94% of every shard (a full-corpus rewrite per
    * rescale); rendezvous moves only the docs whose new shard WINS the
    * score race — the theoretical minimum 1/(S+1) ≈ 5.9% (Thaler &
    * Ravishankar 1998). The paired fractions ARE the deployment
    * decision: at 100 TB a rescale under mod-hash re-copies the
    * corpus, under rendezvous it touches one new shard's worth.
    *
    * Scale: pure in-row hash expressions (17 md5s/doc for the HRW
    * race) into a global 2-row aggregate — no shuffle beyond the final
    * rollup, the q138 class. Exactness: BIGINT counts, one final
    * division; both engines run the identical md5-derived scores and
    * the identical (score DESC, shard ASC) tie rule. */
  val q230ReshardMovement = Q(
    "q230_reshard_movement",
    """WITH h AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
      |  FROM documents),
      |hs AS (
      |  SELECT doc_id, s,
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#' || CAST(s AS VARCHAR)),
      |      1, 15))::BIGINT AS hh
      |  FROM documents, unnest(range(0, 17)) AS u(s)),
      |p16 AS (
      |  SELECT doc_id, s AS shard FROM (
      |    SELECT doc_id, s, row_number() OVER (PARTITION BY doc_id
      |      ORDER BY hh DESC, s) AS rn
      |    FROM hs WHERE s < 16) t WHERE rn = 1),
      |p17 AS (
      |  SELECT doc_id, s AS shard FROM (
      |    SELECT doc_id, s, row_number() OVER (PARTITION BY doc_id
      |      ORDER BY hh DESC, s) AS rn
      |    FROM hs) t WHERE rn = 1),
      |mv AS (
      |  SELECT 'mod' AS strategy, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(CASE WHEN h % 16 <> h % 17 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_moved
      |  FROM h
      |  UNION ALL
      |  SELECT 'rendezvous', CAST(count(*) AS BIGINT),
      |    CAST(sum(CASE WHEN a.shard <> b.shard THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM p16 a JOIN p17 b USING (doc_id))
      |SELECT strategy, n_docs, n_moved,
      |  round(CAST(n_moved AS DOUBLE) / n_docs, 6) AS moved_frac
      |FROM mv ORDER BY strategy""".stripMargin) { (spark, dir) =>
    import graft.functions.Sampling
    val h = conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
      .cast("long")
    val d = Tables.documents(spark, dir).select(
      (pmod(h, lit(16L)) =!= pmod(h, lit(17L))).as("mod_moved"),
      (Sampling.rendezvousShard(col("doc_id"), 16)
        =!= Sampling.rendezvousShard(col("doc_id"), 17)).as("rv_moved"))
    d.agg(count(lit(1)).as("n"),
        sum(when(col("mod_moved"), 1L).otherwise(0L)).as("m_mod"),
        sum(when(col("rv_moved"), 1L).otherwise(0L)).as("m_rv"))
      .select(explode(array(
        struct(lit("mod").as("strategy"), col("n").as("n_docs"),
          col("m_mod").as("n_moved")),
        struct(lit("rendezvous").as("strategy"), col("n").as("n_docs"),
          col("m_rv").as("n_moved")))).as("r"))
      .select(col("r.strategy").as("strategy"), col("r.n_docs").as("n_docs"),
        col("r.n_moved").as("n_moved"),
        round(col("r.n_moved").cast("double") / col("r.n_docs"), 6)
          .as("moved_frac"))
      .orderBy(col("strategy"))
  }

  /** Retrieve-then-rerank — the canonical two-stage RAG pipeline:
    * sparse BM25 recall (the q137 posting join, cheap and bounded)
    * nominates top-5 candidates per query, then DENSE cosine scores
    * only those 5 rows per query (embeddings joined by id — the
    * doc_id↔vec_id bridge the synthetic corpus provides). This is the
    * composition that makes dense scoring affordable at 100 TB: the
    * expensive vector math touches O(queries × k) rows, never the
    * corpus; both stages' determinism contracts (round-before-rank,
    * the q31 cosine↔list_cosine_similarity 6-dp parity) carry through
    * the gate unchanged. */
  val q141RetrieveRerank = Q(
    "q141_retrieve_rerank",
    s"""WITH ${bm25IndexCtes("doc_id")},
      |q AS (SELECT DISTINCT doc_id AS qid, t FROM tf WHERE doc_id % 97 = 0),
      |sc AS (
      |  SELECT q.qid, w.doc_id, round(sum(w.wgt), 4) AS score
      |  FROM q JOIN w ON q.t = w.t AND w.doc_id <> q.qid
      |  GROUP BY 1, 2),
      |rk AS (
      |  SELECT qid, doc_id,
      |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rnk
      |  FROM sc),
      |cand AS (SELECT qid, doc_id FROM rk WHERE rnk <= 5),
      |rr AS (
      |  SELECT c.qid, c.doc_id,
      |    round(list_cosine_similarity(CAST(ed.embedding AS DOUBLE[]),
      |                                 CAST(eq.embedding AS DOUBLE[])), 6) + 0.0 AS cos
      |  FROM cand c
      |  JOIN embeddings ed ON ed.vec_id = c.doc_id
      |  JOIN embeddings eq ON eq.vec_id = c.qid),
      |rk2 AS (
      |  SELECT qid, doc_id, cos,
      |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, doc_id) AS rnk
      |  FROM rr)
      |SELECT qid, CAST(rnk AS INT) AS rnk, doc_id, cos
      |FROM rk2 WHERE rnk <= 3
      |ORDER BY qid, rnk""".stripMargin) { (spark, dir) =>
    import graft.functions.VectorFns
    val cand = Bm25.topK(Tables.documents(spark, dir), "doc_id", "text",
        querySelector = col("doc_id") % 97 === 0, k = 5)
      .select(col("qid"), col("doc_id"))
    val emb = Tables.embeddings(spark, dir)
    val byQ = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("doc_id"))
    cand
      .join(emb.select(col("vec_id").as("doc_id"), col("embedding").as("e_d")), "doc_id")
      .join(emb.select(col("vec_id").as("qid"), col("embedding").as("e_q")), "qid")
      .select(col("qid"), col("doc_id"),
        Q.noNegZero(round(VectorFns.cosine(col("e_d"), col("e_q")), 6)).as("cos"))
      .withColumn("rnk", row_number().over(byQ).cast("int"))
      .filter(col("rnk") <= 3)
      .select(col("qid"), col("rnk"), col("doc_id"), col("cos"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** MMR-diversified rerank (Carbonell–Goldstein maximal marginal
    * relevance, λ = 0.5): greedy picks from the BM25 top-5, each round
    * scoring remaining candidates by λ·rel − (1−λ)·max-sim-to-selected
    * — the result-diversification step that stops a retrieval page (or
    * a RAG context window) filling with near-duplicates of one hit.
    * The greedy loop is UNROLLED into three relational rounds (the
    * k-core/q131 bounded-rounds pattern applied to reranking): each
    * round is a window argmax + tiny joins over O(queries × k) rows,
    * so the whole diversification costs nothing at corpus scale.
    * Inputs are pre-rounded (rel at 4dp from q137's contract, sims at
    * 6dp from q31's), so both engines run identical doubles through
    * identical argmax rules (doc_id tiebreak). */
  val q142MmrRerank = Q(
    "q142_mmr_rerank",
    s"""WITH ${bm25IndexCtes("doc_id")},
      |q AS (SELECT DISTINCT doc_id AS qid, t FROM tf WHERE doc_id % 97 = 0),
      |sc AS (
      |  SELECT q.qid, w.doc_id, round(sum(w.wgt), 4) AS score
      |  FROM q JOIN w ON q.t = w.t AND w.doc_id <> q.qid
      |  GROUP BY 1, 2),
      |rk AS (
      |  SELECT qid, doc_id, score,
      |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rnk
      |  FROM sc),
      |cand AS (SELECT qid, doc_id, score AS rel FROM rk WHERE rnk <= 5),
      |$mmrRoundsCtes
      |SELECT qid, CAST(1 AS INT) AS pick, doc_id,
      |  CAST(round(rel * 10000000) AS BIGINT) AS mmr_e7 FROM s1
      |UNION ALL SELECT qid, CAST(2 AS INT), doc_id,
      |  CAST(round(mmr * 10000000) AS BIGINT) FROM s2
      |UNION ALL SELECT qid, CAST(3 AS INT), doc_id,
      |  CAST(round(mmr * 10000000) AS BIGINT) FROM s3
      |ORDER BY qid, pick""".stripMargin) { (spark, dir) =>
    // the candidate set is O(queries × 5) rows (~n/97·5 — bounded
    // small at any SF) but its lineage is the whole BM25 pipeline,
    // and the three unrolled rounds reference it six times; cut the
    // lineage once so the posting join runs once, not six times
    // (3.6 → ~1.5 s at sf0.1)
    val cand = Bm25.topK(Tables.documents(spark, dir), "doc_id", "text",
        querySelector = col("doc_id") % 97 === 0, k = 5)
      .select(col("qid"), col("doc_id"), col("score").as("rel"))
      .localCheckpoint()
    val (s1, s2, s3) = mmrPicks(cand, Tables.embeddings(spark, dir))
    // output on the EXACT integer grid: with λ = 0.5 the blend
    // 0.5·rel − 0.5·sim has ≤7 exact decimal digits (rel 4dp / 2,
    // sim 6dp / 2), so a 4dp decimal round lands ON half-boundaries
    // by construction and the engines' decimal-rounding conventions
    // diverge (seen at sf0.1: 7.0878 vs 7.0879). ×10⁷ makes the true
    // value integral — round-to-integer is then unambiguous in both.
    s1.select(col("qid"), lit(1).cast("int").as("pick"), col("doc_id"),
        round(col("rel") * 10000000).cast("long").as("mmr_e7"))
      .unionAll(s2.select(col("qid"), lit(2).cast("int").as("pick"), col("doc_id"),
        round(col("mmr") * 10000000).cast("long").as("mmr_e7")))
      .unionAll(s3.select(col("qid"), lit(3).cast("int").as("pick"), col("doc_id"),
        round(col("mmr") * 10000000).cast("long").as("mmr_e7")))
      .orderBy(col("qid"), col("pick"))
  }

  /** Dedup index-quality eval — precision/recall of the MinHash+LSH
    * candidate set (q29) against exact n-gram Jaccard ground truth
    * (q28), both at threshold 0.5 on the same corpus sample: the q103
    * ANN-recall pattern applied to the dedup family, and like q103 the
    * oracle COMPOSES the two registered oracle strings verbatim, so
    * this eval can never drift from the queries it grades. Recall
    * tells a pipeline how many true near-dups the banded index loses;
    * precision how much signature-verified-but-not-truly-similar work
    * the verify stage will discard. (Ground truth is q28's df-capped
    * surface — the graded production path, which is exactly the drift
    * to monitor.) */
  val q143DedupRecall = Q(
    "q143_dedup_recall",
    s"""WITH exact AS (SELECT id_a, id_b FROM (
       |${q28JaccardPairs.oracle.get}
       |)),
       |approx AS (SELECT id_a, id_b FROM (
       |${q29MinhashPairs.oracle.get}
       |)),
       |m AS (SELECT
       |  (SELECT count(*) FROM exact) AS n_exact,
       |  (SELECT count(*) FROM approx) AS n_approx,
       |  (SELECT count(*) FROM exact e JOIN approx a
       |     ON e.id_a = a.id_a AND e.id_b = a.id_b) AS n_both)
       |SELECT CAST(n_exact AS BIGINT) AS n_exact,
       |  CAST(n_approx AS BIGINT) AS n_approx,
       |  CAST(n_both AS BIGINT) AS n_both,
       |  round(n_both / CAST(greatest(1, n_approx) AS DOUBLE), 4) AS prec,
       |  round(n_both / CAST(greatest(1, n_exact) AS DOUBLE), 4) AS rec
       |FROM m""".stripMargin) { (spark, dir) =>
    val docs = Tables.documents(spark, dir).filter(col("doc_id") % 2 === 0)
    // r15 perf: BOTH screens consume the same (id, sh) distinct shingle
    // view — build it once and cut its lineage, so the corpus
    // tokenize + shingle explode + per-doc dedup run ONCE instead of
    // once per screen (guide §2.4; the FromShingles variants are
    // delegation targets of the public operators, so the pair sets are
    // bit-identical to q28/q29's)
    val shv = Dedup.shingleSetView(docs, "doc_id", "text", n = 3)
      .localCheckpoint()
    // each pair set feeds its count and the intersection; cutting them
    // did not pay at sf0.1 once `shv` is cut (LINEAGE_CUTS.md)
    val exact = Dedup.jaccardPairsFromShingles(shv,
        threshold = 0.5, maxDocFreq = 100)
      .select(col("id_a"), col("id_b"))
    val approx = Dedup.minhashLshPairsFromShingles(shv,
        bands = 16, rowsPerBand = 4, threshold = 0.5)
      .select(col("id_a"), col("id_b"))
    val both = exact.join(approx, Seq("id_a", "id_b"))
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(approx.agg(count(lit(1)).as("n_approx")))
      .crossJoin(both.agg(count(lit(1)).as("n_both")))
      .select(col("n_exact"), col("n_approx"), col("n_both"),
        round(col("n_both") / greatest(lit(1), col("n_approx")).cast("double"), 4).as("prec"),
        round(col("n_both") / greatest(lit(1), col("n_exact")).cast("double"), 4).as("rec"))
  }

  /** The training-data prep pipeline, end to end, as ONE declarative
    * plan — the capstone composition a 100 TB corpus actually runs
    * nightly: quality filter (q25/q118 thresholds) → exact dedup
    * (digest winners — text never shuffles; the digest-keyed agg plus a
    * doc_id semi-join move only digests and ids) → benchmark
    * decontamination (q68's distinct-shingle overlap vs the RAW
    * doc_id%97=0 held-out slice, ≥3 shared shingles ⇒ drop) → MinHash
    * LSH near-dup removal (q29's banded candidates → q51's components →
    * q59's keep-canonical) → training-shard manifest (q138's
    * epoch-shuffle order + order-sensitive checksum). Every stage keeps
    * its own scale contract (banded candidates, df-capped shingles,
    * no all-pairs anywhere), and the manifest hash-gates BOTH the final
    * membership and the within-shard order — if any stage drifts on
    * either engine, the checksum moves. The oracle replays all five
    * stages CTE-for-CTE, components via a recursive CTE. */
  val q144PrepPipeline: Q = {
    val k = 16 * 4
    val deconDocsSql =
      """SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
        |  FROM decon""".stripMargin
    Q("q144_prep_pipeline",
      s"""WITH RECURSIVE scored AS (
         |  SELECT doc_id, text,
         |    len(string_split_regex(lower(text), '\\s+')) AS n_tokens,
         |    CASE WHEN length(text) = 0 THEN 0.0
         |         ELSE CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
         |              / length(text) END AS punct_ratio,
         |    CASE WHEN len(string_split_regex(lower(text), '\\s+')) = 0 THEN 0.0
         |         ELSE CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
         |                t -> list_contains(['the','a','of','and','to','in','is','on','for'], t)))
         |              AS DOUBLE) / len(string_split_regex(lower(text), '\\s+')) END AS stop_ratio
         |  FROM documents),
         |kept AS (
         |  SELECT doc_id, text, n_tokens FROM scored
         |  WHERE n_tokens BETWEEN 10 AND 5000 AND punct_ratio < 0.2 AND stop_ratio >= 0.02),
         |exact AS (
         |  SELECT doc_id, text, n_tokens FROM kept
         |  WHERE doc_id IN (SELECT min(doc_id) FROM kept GROUP BY md5(text))),
         |rawsh AS (
         |  SELECT DISTINCT doc_id, s
         |  FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t
         |        FROM documents) d,
         |    unnest(list_transform(range(1, len(t) - 1),
         |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS u(s)
         |  WHERE len(t) >= 3),
         |bench AS (SELECT DISTINCT s FROM rawsh WHERE doc_id % 97 = 0),
         |flagged AS (
         |  SELECT doc_id FROM rawsh JOIN bench USING (s)
         |  WHERE doc_id % 97 <> 0 GROUP BY doc_id HAVING count(*) >= 3),
         |decon AS (
         |  SELECT doc_id, text, n_tokens FROM exact
         |  WHERE doc_id % 97 <> 0 AND doc_id NOT IN (SELECT doc_id FROM flagged)),
         |${minhashCtes(16, 4, deconDocsSql)},
         |pairs AS (
         |  SELECT id_a, id_b FROM cands
         |  WHERE len(list_filter(range(1, ${k + 1}), i -> sa[i] = sb[i])) / $k.0 >= 0.5),
         |sym AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
         |reach(a, b) AS (
         |  SELECT src, dst FROM sym
         |  UNION
         |  SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src),
         |comp AS (SELECT a AS node, least(a, min(b)) AS comp FROM reach GROUP BY a),
         |fin AS (
         |  SELECT doc_id, n_tokens FROM decon
         |  WHERE doc_id NOT IN (SELECT node FROM comp WHERE node <> comp)),
         |h AS (
         |  SELECT doc_id, n_tokens,
         |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS gh
         |  FROM fin),
         |p AS (
         |  SELECT doc_id, n_tokens, gh % 8 AS shard,
         |    row_number() OVER (PARTITION BY gh % 8 ORDER BY gh, doc_id) AS pos
         |  FROM h)
         |SELECT CAST(shard AS INT) AS shard,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
         |  CAST(sum(pos * (doc_id % 997)) AS BIGINT) AS ord_checksum
         |FROM p GROUP BY shard ORDER BY shard""".stripMargin) { (spark, dir) =>
      val docs = Tables.documents(spark, dir)
      // r16 (verdict item 1): the md5 digest is computed in the SAME
      // corpus projection as the quality features, and the projection
      // drops TEXT — the exact-dedup winners subtree then consumes only
      // this SKINNY (doc_id, digest, n_tokens) relation, so the corpus
      // is tokenized ONCE for quality+digest instead of once per
      // consumer (the old shape ran the quality pass under BOTH the
      // digest-agg winners subtree and the text-carrying semi-join
      // probe side). `lab` has exactly ONE consumer, so no lineage cut
      // is needed (r15 calibration rule: cut only ≥2 re-executions);
      // text is restored by a plain scan-and-join.
      val lab = docs
        .select(col("doc_id"), col("text"), TextFns.tokens(col("text")).as("toks"))
        .select(col("doc_id"), md5(col("text")).as("digest"),
          size(col("toks")).as("n_tokens"),
          TextFns.punctRatio(col("text")).as("punct_ratio"),
          (TextFns.markerHits(col("toks"), Stopwords).cast("double") /
            greatest(size(col("toks")), lit(1))).as("stop_ratio"))
        .filter(col("n_tokens").between(10, 5000)
          && col("punct_ratio") < 0.2 && col("stop_ratio") >= 0.02)
        .select(col("doc_id"), col("digest"), col("n_tokens"))
      // exact dedup: min-of-struct picks the winning row per digest
      // WITH its n_tokens (doc_id is unique, so field-by-field struct
      // ordering ≡ the oracle's min(doc_id) per md5(text)); only
      // digests and ids ever aggregate — text never does
      val winners = lab.groupBy(col("digest"))
        .agg(min(struct(col("doc_id"), col("n_tokens"))).as("m"))
        .select(col("m.doc_id").as("doc_id"), col("m.n_tokens").as("n_tokens"))
      val exact = docs.select(col("doc_id"), col("text"))
        .join(winners, Seq("doc_id"))
        .select(col("doc_id"), col("text"), col("n_tokens"))
      // decontamination: distinct (doc, shingle) grain from the RAW
      // corpus (the benchmark slice must be visible even where quality
      // filtering would drop it) — q68's derivation verbatim
      val sh = docs
        .repartition(col("doc_id"))
        .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("toks"),
          explode(TextFns.shinglePositions(col("toks"), 3)).as("i"))
        .select(col("doc_id"), TextFns.shingleAt(col("toks"), col("i"), 3).as("s"))
        .dropDuplicates(Seq("doc_id", "s"))
      val bench = sh.filter(col("doc_id") % 97 === 0).select(col("s")).distinct()
      val flagged = sh.filter(col("doc_id") % 97 =!= 0)
        .join(bench, "s")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 3)
        .select(col("doc_id"))
      // cache: three consumers below (LSH signature pipeline, the
      // keep-canonical anti-join's doc side, the shard manifest) would
      // otherwise each re-run the quality+dedup+decontamination lineage
      val decon = exact.filter(col("doc_id") % 97 =!= 0)
        .join(flagged, Seq("doc_id"), "left_anti")
        .cache()
      val pairs = Dedup.minhashLshPairs(decon, "doc_id", "text",
          n = 3, bands = 16, rowsPerBand = 4, threshold = 0.5)
        .select(col("id_a"), col("id_b"))
      val fin = Dedup.dropNearDuplicates(decon, "doc_id", pairs)
      Sampling.assignShards(fin, col("doc_id"), 8)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"),
          sum(col("pos") * (col("doc_id") % 997)).as("ord_checksum"))
        .orderBy(col("shard"))
    }
  }

  /** Every source's trigram shingles `(source, tok)`, one row per
    * occurrence — the set q148/q176 sketch. */
  private def sourceShingles(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs
      .select(col("source"), TextFns.tokens(col("text")).as("t"))
      .select(col("source"), col("t"),
        explode(TextFns.shinglePositions(col("t"), 3)).as("i"))
      .select(col("source"), TextFns.shingleAt(col("t"), col("i"), 3).as("tok"))

  /** DuckDB twin of [[sourceShingles]] plus the portable HLL register
    * build (`PortableHll.registers`), shared by q148/q176: `toks`, the
    * md5 hashes `hx`, the observed registers `reg0(source, b, m)` and
    * the 64-bucket `spine` per source. */
  private def hllRegisterCtes: String =
    """toks AS (
      |  SELECT d.source, u.tok
      |  FROM (SELECT source, string_split_regex(lower(text), '\s+') AS t
      |        FROM documents) d,
      |    unnest(list_transform(range(1, len(d.t) - 1),
      |      i -> d.t[i] || ' ' || d.t[i+1] || ' ' || d.t[i+2])) AS u(tok)
      |  WHERE len(d.t) >= 3),
      |hx AS (
      |  SELECT source, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks),
      |reg0 AS (
      |  SELECT source, h % 64 AS b,
      |    max(CASE WHEN h // 64 = 0 THEN 55
      |             ELSE 55 - length(bin(h // 64)) END) AS m
      |  FROM hx GROUP BY 1, 2),
      |spine AS (
      |  SELECT s.source, g.b
      |  FROM (SELECT DISTINCT source FROM documents) s,
      |    unnest(range(0, 64)) AS g(b))""".stripMargin

  /** Portable HyperLogLog (Flajolet et al. 2007) — approximate distinct
    * with the ENTIRE sketch state hash-gated, where q38/q105's native
    * sketches (engine-tuned hash families) can only be rows-only: the
    * registers derive from the portable md5 hash (low 6 bits bucket,
    * rank = leading zeros of the remaining 54 bits + 1, via the
    * bin()-string-length idiom both engines share), and the register
    * sum Σ 2^(-M_j) is carried SCALED BY 2^55 as a BIGINT — every term
    * is an exact power of two, so the sum is order-independent integer
    * arithmetic and the oracle hash-checks the sketch state itself, not
    * just an estimate. The estimate (α·m²·2^55/T, linear-counting
    * small-range branch included) is one identical double expression
    * over those exact integers. Scale shape: the register table is the
    * partial-agg shuffle target — 64 rows per group no matter the
    * corpus (the mergeable-sketch contract), plus the exact-distinct
    * join for the error column (which a 100 TB run would drop — it
    * exists here to gate the accuracy claim). The counted set is
    * distinct trigram shingles per source — ~1.4k per group at sf0.01,
    * squarely in HLL's raw range, so the gate exercises the register
    * estimate itself rather than the linear-counting floor. */
  val q148PortableHll = Q(
    "q148_portable_hll",
    s"""WITH $hllRegisterCtes,
      |reg AS (
      |  SELECT spine.source, coalesce(reg0.m, 0) AS m
      |  FROM spine LEFT JOIN reg0 ON spine.source = reg0.source AND spine.b = reg0.b),
      |st AS (
      |  SELECT source,
      |    CAST(sum(1::BIGINT << (55 - m)) AS BIGINT) AS t_scaled,
      |    CAST(sum(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_zero
      |  FROM reg GROUP BY source),
      |ex AS (
      |  SELECT source, CAST(count(DISTINCT tok) AS BIGINT) AS exact_distinct
      |  FROM toks GROUP BY source),
      |est AS (
      |  SELECT source, t_scaled, v_zero,
      |    CASE WHEN 1.046802484394006e20 / t_scaled <= 160 AND v_zero > 0
      |         THEN 64 * ln(CAST(64 AS DOUBLE) / v_zero)
      |         ELSE 1.046802484394006e20 / t_scaled END AS e
      |  FROM st)
      |SELECT est.source, t_scaled, v_zero, round(e, 4) AS est_distinct,
      |  exact_distinct,
      |  round(abs(e - exact_distinct) / exact_distinct, 4) AS rel_err
      |FROM est JOIN ex ON est.source = ex.source
      |ORDER BY est.source""".stripMargin) { (spark, dir) =>
    import graft.functions.PortableHll
    val docs = Tables.documents(spark, dir)
    val toks = sourceShingles(docs)
    val st = PortableHll.state(
      PortableHll.registers(toks, "source", col("tok")),
      docs.select(col("source")).distinct(), "source")
    val ex = toks.groupBy(col("source")).agg(countDistinct(col("tok")).as("exact_distinct"))
    val e = PortableHll.estimate(col("t_scaled"), col("v_zero"))
    st.join(ex, "source")
      .select(col("source"), col("t_scaled"), col("v_zero"),
        round(e, 4).as("est_distinct"), col("exact_distinct"),
        round(abs(e - col("exact_distinct")) / col("exact_distinct"), 4).as("rel_err"))
      .orderBy(col("source"))
  }

  /** Corpus drift monitor between two snapshot halves (doc_id parity
    * stands in for yesterday/today): the three drift signals an
    * ingest pipeline alarms on, in ONE long-form result —
    * length-distribution PSI (population stability index over 32
    * fixed-width n_chars bins, add-one smoothed, the industry drift
    * metric), source-mix L1 distance, and shingle NOVELTY rate (what
    * fraction of today's distinct trigrams yesterday never saw — the
    * content-level signal the length/mix marginals can't see).
    * Exactness: every input to every float is an exact integer count
    * (bin histograms, source counts, distinct-shingle anti-join
    * counts); PSI/L1/rate are identical double expressions, 6dp.
    * Scale: histograms are ≤ 32/|sources| rows via partial agg; the
    * novelty anti-join is shingle-keyed (the q68 shape); nothing
    * pairwise. */
  val q149CorpusDrift = Q(
    "q149_corpus_drift",
    """WITH a AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
      |b AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
      |tot AS (SELECT (SELECT count(*) FROM a) AS na, (SELECT count(*) FROM b) AS nb),
      |ha AS (SELECT least(n_chars // 64, 31) AS bin, count(*) AS c FROM a GROUP BY 1),
      |hb AS (SELECT least(n_chars // 64, 31) AS bin, count(*) AS c FROM b GROUP BY 1),
      |spine AS (SELECT g.bin FROM unnest(range(0, 32)) AS g(bin)),
      |hh AS (
      |  SELECT spine.bin, coalesce(ha.c, 0) AS ca, coalesce(hb.c, 0) AS cb
      |  FROM spine LEFT JOIN ha USING (bin) LEFT JOIN hb USING (bin)),
      |psi AS (
      |  SELECT round(sum(
      |    ((ca + 1) / CAST(na + 32 AS DOUBLE) - (cb + 1) / CAST(nb + 32 AS DOUBLE))
      |    * ln(((ca + 1) / CAST(na + 32 AS DOUBLE))
      |        / ((cb + 1) / CAST(nb + 32 AS DOUBLE)))), 6) AS v
      |  FROM hh, tot),
      |sa AS (SELECT source, count(*) AS c FROM a GROUP BY 1),
      |sb AS (SELECT source, count(*) AS c FROM b GROUP BY 1),
      |sm AS (
      |  SELECT coalesce(sa.c, 0) AS ca, coalesce(sb.c, 0) AS cb
      |  FROM sa FULL OUTER JOIN sb ON sa.source = sb.source),
      |sl1 AS (
      |  SELECT round(sum(abs(ca / CAST(na AS DOUBLE) - cb / CAST(nb AS DOUBLE))), 6) AS v
      |  FROM sm, tot),
      |shd AS (
      |  SELECT DISTINCT doc_id % 2 AS half, s
      |  FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
      |        FROM documents) d,
      |    unnest(list_transform(range(1, len(t) - 1),
      |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS u(s)
      |  WHERE len(t) >= 3),
      |nov AS (
      |  SELECT
      |    (SELECT count(*) FROM shd y WHERE y.half = 1 AND NOT EXISTS
      |      (SELECT 1 FROM shd x WHERE x.half = 0 AND x.s = y.s)) AS novel,
      |    (SELECT count(*) FROM shd y WHERE y.half = 1) AS totb)
      |SELECT 'chars_psi' AS metric, v AS value FROM psi
      |UNION ALL SELECT 'novel_shingle_rate', round(novel / CAST(totb AS DOUBLE), 6) FROM nov
      |UNION ALL SELECT 'novel_shingles', CAST(novel AS DOUBLE) FROM nov
      |UNION ALL SELECT 'source_mix_l1', v FROM sl1
      |ORDER BY metric""".stripMargin) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    val a = docs.filter(col("doc_id") % 2 === 0)
    val b = docs.filter(col("doc_id") % 2 === 1)
    val tot = a.agg(count(lit(1)).as("na"))
      .crossJoin(b.agg(count(lit(1)).as("nb")))
    def hist(df: org.apache.spark.sql.DataFrame, cn: String) = df
      .select(least(shiftright(col("n_chars"), 6), lit(31L)).as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as(cn))
    val spine = spark.range(0, 32).select(col("id").as("bin"))
    val hh = spine.join(hist(a, "ca0"), Seq("bin"), "left")
      .join(hist(b, "cb0"), Seq("bin"), "left")
      .select(coalesce(col("ca0"), lit(0L)).as("ca"),
        coalesce(col("cb0"), lit(0L)).as("cb"))
    def p(cc: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column) =
      (cc + 1) / (n + 32).cast("double")
    val psi = hh.crossJoin(broadcast(tot))
      .agg(round(sum((p(col("ca"), col("na")) - p(col("cb"), col("nb")))
        * log(p(col("ca"), col("na")) / p(col("cb"), col("nb")))), 6).as("value"))
      .select(lit("chars_psi").as("metric"), col("value"))
    def smix(df: org.apache.spark.sql.DataFrame, cn: String) =
      df.groupBy(col("source")).agg(count(lit(1)).as(cn))
    val saDf = smix(a, "ca").withColumnRenamed("source", "sa")
    val sbDf = smix(b, "cb").withColumnRenamed("source", "sb")
    val sm = saDf.join(sbDf, col("sa") === col("sb"), "full_outer")
      .select(coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    val sourceL1 = sm.crossJoin(broadcast(tot))
      .agg(round(sum(abs(col("ca") / col("na").cast("double")
        - col("cb") / col("nb").cast("double"))), 6).as("value"))
      .select(lit("source_mix_l1").as("metric"), col("value"))
    val shd = docs
      .repartition(col("doc_id"))
      .select((col("doc_id") % 2).as("half"), TextFns.tokens(col("text")).as("t"))
      .select(col("half"), col("t"),
        explode(TextFns.shinglePositions(col("t"), 3)).as("i"))
      .select(col("half"), TextFns.shingleAt(col("t"), col("i"), 3).as("s"))
      .dropDuplicates(Seq("half", "s"))
    val shA = shd.filter(col("half") === 0).select(col("s"))
    val shB = shd.filter(col("half") === 1).select(col("s"))
    val novCnt = shB.join(shA, Seq("s"), "left_anti").agg(count(lit(1)).as("novel"))
      .crossJoin(shB.agg(count(lit(1)).as("totb")))
    val novelty = novCnt.select(
        lit("novel_shingle_rate").as("metric"),
        round(col("novel") / col("totb").cast("double"), 6).as("value"))
      .unionByName(novCnt.select(lit("novel_shingles").as("metric"),
        col("novel").cast("double").as("value")))
    psi.unionByName(novelty).unionByName(sourceL1).orderBy(col("metric"))
  }

  /** Source-affinity matrix — pairwise cosine similarity between the
    * sources' hashed-unigram count vectors (B = 64 md5 buckets): the
    * data-mixing diagnostic that complements q121's KL-vs-marginal with
    * a source×source view (which sources are interchangeable, which add
    * diversity). Exactness: dot products and norms are BIGINT sums of
    * exact bucket counts; the cosine is one identical double expression
    * over them, 6dp. Scale: the ONLY corpus-sized work is the one
    * partial-agg shuffle to |sources|×64 rows; the pairwise join runs
    * on that bounded table, so the "matrix" costs the same at any
    * corpus size (the q119/q121 hashed-bucket contract). */
  val q150SourceAffinity = Q(
    "q150_source_affinity",
    """WITH toks AS (
      |  SELECT d.source, u.tok
      |  FROM (SELECT source, string_split_regex(lower(text), '\s+') AS t
      |        FROM documents) d, unnest(d.t) AS u(tok)),
      |f AS (
      |  SELECT source, ('0x' || substr(md5(tok), 1, 15))::BIGINT % 64 AS b,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM toks GROUP BY 1, 2),
      |n AS (SELECT source, CAST(sum(c * c) AS BIGINT) AS n2 FROM f GROUP BY source),
      |dots AS (
      |  SELECT x.source AS source_a, y.source AS source_b,
      |    CAST(sum(x.c * y.c) AS BIGINT) AS dot
      |  FROM f x JOIN f y ON x.b = y.b AND x.source < y.source
      |  GROUP BY 1, 2)
      |SELECT source_a, source_b,
      |  round(dot / (sqrt(CAST(nx.n2 AS DOUBLE)) * sqrt(CAST(ny.n2 AS DOUBLE))), 6)
      |    AS cosine
      |FROM dots JOIN n nx ON dots.source_a = nx.source
      |JOIN n ny ON dots.source_b = ny.source
      |ORDER BY source_a, source_b""".stripMargin) { (spark, dir) =>
    import graft.operators.Dedup
    val f = Tables.documents(spark, dir)
      .select(col("source"), explode(TextFns.tokens(col("text"))).as("tok"))
      .select(col("source"), (Dedup.portableHash60(col("tok")) % 64).as("b"))
      .groupBy(col("source"), col("b")).agg(count(lit(1)).as("c"))
    val n = f.groupBy(col("source")).agg(sum(col("c") * col("c")).as("n2"))
    val x = f.select(col("source").as("source_a"), col("b"), col("c").as("cx"))
    val y = f.select(col("source").as("source_b"), col("b"), col("c").as("cy"))
    val dots = x.join(y, Seq("b")).filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(sum(col("cx") * col("cy")).as("dot"))
    dots
      .join(n.select(col("source").as("source_a"), col("n2").as("nx2")), "source_a")
      .join(n.select(col("source").as("source_b"), col("n2").as("ny2")), "source_b")
      .select(col("source_a"), col("source_b"),
        round(col("dot") / (sqrt(col("nx2").cast("double"))
          * sqrt(col("ny2").cast("double"))), 6).as("cosine"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Grouped AUC — model evaluation at scale: how well does q81's
    * hashed-feature classifier score rank documents against the q25
    * rule-based quality label, per source? AUC via the Mann-Whitney
    * rank-sum identity AUC = (2·R⁺ − n⁺(n⁺+1)) / (2·n⁺·n⁻) — ONE
    * source-partitioned rank window + one hash agg, no per-pair work
    * and no score collection (the naive AUC materializes n⁺·n⁻ pairs).
    * Determinism: ranks are row_numbers over (score, doc_id) — scores
    * are bit-identical across engines (q81's contract) and doc_id
    * breaks ties, so the rank permutation is identical and every input
    * to the final division is an exact BIGINT (tie-broken AUC, not
    * tie-averaged — documented semantics, same on both sides). */
  /** Shared by q153/q155: per-doc classifier score (q81's expression)
    * + rule label (q25's predicate) as SQL CTEs and as a DataFrame. */
  private def qualityLabSql: String =
    s"""base AS (
       |  SELECT doc_id, source, text,
       |    string_split_regex(lower(text), '\\s+') AS t
       |  FROM documents),
       |feat AS (
       |  SELECT doc_id, source,
       |    list_sum(list_transform(t,
       |      x -> (${QualityModel.weightsSqlList})[
       |        ('0x' || substr(md5(x), 1, 15))::BIGINT % ${QualityModel.Dim} + 1]))
       |      / len(t) + ${QualityModel.Bias} AS score,
       |    len(t) AS n_tokens,
       |    CASE WHEN length(text) = 0 THEN 0.0
       |         ELSE CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
       |              / length(text) END AS punct_ratio,
       |    CASE WHEN len(t) = 0 THEN 0.0
       |         ELSE CAST(len(list_filter(t,
       |                x -> list_contains(['the','a','of','and','to','in','is','on','for'], x)))
       |              AS DOUBLE) / len(t) END AS stop_ratio
       |  FROM base),
       |lab AS (
       |  SELECT doc_id, source, score,
       |    (n_tokens BETWEEN 10 AND 5000 AND punct_ratio < 0.2
       |      AND stop_ratio >= 0.02) AS pos
       |  FROM feat)""".stripMargin

  private def qualityLab(spark: SparkSession, dir: String) =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"),
        TextFns.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("source"),
        QualityModel.score(col("toks")).as("score"),
        size(col("toks")).as("n_tokens"),
        TextFns.punctRatio(col("text")).as("punct_ratio"),
        (TextFns.markerHits(col("toks"), Stopwords).cast("double") /
          greatest(size(col("toks")), lit(1))).as("stop_ratio"))
      .select(col("doc_id"), col("source"), col("score"),
        (col("n_tokens").between(10, 5000) && col("punct_ratio") < 0.2
          && col("stop_ratio") >= 0.02).as("pos"))

  val q153QualityAuc = Q(
    "q153_quality_auc",
    s"""WITH $qualityLabSql,
       |r AS (
       |  SELECT source, pos,
       |    row_number() OVER (PARTITION BY source ORDER BY score, doc_id) AS rk
       |  FROM lab),
       |agg AS (
       |  SELECT source,
       |    CAST(sum(CASE WHEN pos THEN rk ELSE 0 END) AS BIGINT) AS rs,
       |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS np,
       |    CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS nn
       |  FROM r GROUP BY source)
       |SELECT source, np AS n_pos, nn AS n_neg,
       |  round((2 * rs - np * (np + 1)) / CAST(2 * np * nn AS DOUBLE), 6) AS auc
       |FROM agg WHERE np > 0 AND nn > 0
       |ORDER BY source""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val lab = qualityLab(spark, dir)
    val r = lab.withColumn("rk", row_number()
      .over(Window.partitionBy(col("source")).orderBy(col("score"), col("doc_id"))))
    r.groupBy(col("source"))
      .agg(sum(when(col("pos"), col("rk").cast("long")).otherwise(0L)).as("rs"),
        sum(when(col("pos"), 1L).otherwise(0L)).as("np"),
        sum(when(col("pos"), 0L).otherwise(1L)).as("nn"))
      .filter(col("np") > 0 && col("nn") > 0)
      .select(col("source"), col("np").as("n_pos"), col("nn").as("n_neg"),
        round((lit(2) * col("rs") - col("np") * (col("np") + 1)) /
          (lit(2) * col("np") * col("nn")).cast("double"), 6).as("auc"))
      .orderBy(col("source"))
  }

  /** Score calibration table — the companion eval to q153's AUC
    * (ranking quality) answering "is the score's SCALE meaningful":
    * positive-rate per score bin. Scale-first: bins are FIXED-WIDTH
    * over a 1-row min/max broadcast (16 bins) — the decile/ntile
    * formulation needs a single-partition global rank, which is the
    * one window shape this engine refuses (q69's sharding note); one
    * hash agg does the rest. pos counts are exact BIGINTs; bin
    * assignment is floor() of identical doubles on both engines. */
  val q155ScoreCalibration = Q(
    "q155_score_calibration",
    s"""WITH $qualityLabSql,
       |bounds AS (SELECT min(score) AS lo, max(score) AS hi FROM lab),
       |b AS (
       |  SELECT least(greatest(
       |      CAST(floor((score - lo) / ((hi - lo) / 16)) AS INT), 0), 15) AS bin,
       |    score, pos
       |  FROM lab, bounds)
       |SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       |  round(sum(CASE WHEN pos THEN 1 ELSE 0 END)
       |    / CAST(count(*) AS DOUBLE), 4) AS pos_rate,
       |  round(avg(score), 4) + 0.0 AS mean_score
       |FROM b GROUP BY bin ORDER BY bin""".stripMargin) { (spark, dir) =>
    // r15 perf: lab feeds the global min/max AND the binning pass — the
    // two-pass is fundamental (bin edges need the bounds) but without a
    // cut both passes re-ran the per-token hashed-weight score; one
    // checkpoint of the skinny doc-grain lab halves the score work
    // (guide §2.4; same fix in q202/q225)
    val lab = qualityLab(spark, dir).localCheckpoint()
    val bounds = lab.agg(min(col("score")).as("lo"), max(col("score")).as("hi"))
    lab.crossJoin(broadcast(bounds))
      .select(least(greatest(floor((col("score") - col("lo")) /
          ((col("hi") - col("lo")) / 16)).cast("int"), lit(0)), lit(15)).as("bin"),
        col("score"), col("pos"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos"),
        round(sum(when(col("pos"), 1L).otherwise(0L))
          / count(lit(1)).cast("double"), 4).as("pos_rate"),
        Q.noNegZero(round(avg(col("score")), 4)).as("mean_score"))
      .orderBy(col("bin"))
  }

  /** Positional phrase search (`operators/Phrase`) — exact adjacency
    * matching over a positional posting index, the retrieval family's
    * complement to BM25's bag-of-words scoring: top-5 documents per
    * phrase by occurrence count, for two bigrams and one trigram. The
    * postings are pruned to the phrases' own vocabulary with a literal
    * IN-list BEFORE any join (pushed into the scan — candidate volume is
    * occurrences of the queried words, not the corpus), then each phrase
    * runs L−1 (doc, position) equi-joins. The oracle rebuilds the same
    * 1-based positional postings with unnest(range(len)) ordinality and
    * replays the adjacency joins relationally. */
  val q160PhraseSearch = Q(
    "q160_phrase_search",
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
      |  FROM documents),
      |p AS (
      |  SELECT doc_id, t[i] AS w, CAST(i AS BIGINT) AS pos
      |  FROM toks, unnest(range(1, len(t) + 1)) u(i)),
      |ph(qid, phrase, w0, w1, w2) AS (VALUES
      |  ('p1', 'hash join', 'hash', 'join', NULL),
      |  ('p2', 'table scan', 'table', 'scan', NULL),
      |  ('p3', 'slow hash batch', 'slow', 'hash', 'batch')),
      |m AS (
      |  SELECT ph.qid, ph.phrase, a.doc_id, CAST(count(*) AS BIGINT) AS matches
      |  FROM ph
      |  JOIN p a ON a.w = ph.w0
      |  JOIN p b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1 AND b.w = ph.w1
      |  LEFT JOIN p c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2 AND c.w = ph.w2
      |  WHERE ph.w2 IS NULL OR c.doc_id IS NOT NULL
      |  GROUP BY 1, 2, 3),
      |r AS (
      |  SELECT qid, phrase, doc_id, matches,
      |    CAST(row_number() OVER (PARTITION BY qid
      |      ORDER BY matches DESC, doc_id) AS BIGINT) AS rank
      |  FROM m)
      |SELECT qid, phrase, doc_id, matches, rank
      |FROM r WHERE rank <= 5 ORDER BY qid, rank""".stripMargin) { (spark, dir) =>
    import graft.operators.Phrase
    import org.apache.spark.sql.expressions.Window
    val postings = Phrase.positionalPostings(
      Tables.documents(spark, dir), "doc_id", "text")
    val counts = Phrase.phraseCounts(postings, Seq(
      "p1" -> Seq("hash", "join"),
      "p2" -> Seq("table", "scan"),
      "p3" -> Seq("slow", "hash", "batch")))
    counts
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("matches").desc, col("id"))).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("phrase"), col("id").as("doc_id"),
        col("matches"), col("rank"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Small-file compaction planner (`operators/Compaction`) — the
    * table-maintenance op a 100 TB lake runs continuously: pack files
    * into ~target-sized bins with a per-partition running-sum window at
    * file-METADATA grain (documents stand in as the file listing, text
    * length as file bytes). Bin = floor(bytes-before / target) — the
    * deterministic greedy packer, so the manifest is reproducible and
    * the oracle replays it with the same window. Planning cost is a
    * window over the listing, never the data; the rewrite it describes
    * is per-bin parallel. */
  val q162CompactionPlan = Q(
    "q162_compaction_plan",
    """WITH f AS (
      |  SELECT source, doc_id, CAST(length(text) AS BIGINT) AS bytes
      |  FROM documents),
      |c AS (
      |  SELECT source, doc_id, bytes,
      |    coalesce(sum(bytes) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
      |  FROM f),
      |b AS (SELECT source, doc_id, bytes, prior // 4096 AS bin FROM c)
      |SELECT source, CAST(bin AS BIGINT) AS bin,
      |  CAST(count(*) AS BIGINT) AS n_files,
      |  CAST(sum(bytes) AS BIGINT) AS total_bytes,
      |  min(doc_id) AS first_id, max(doc_id) AS last_id
      |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
    import graft.operators.Compaction
    val files = Tables.documents(spark, dir).select(col("source"),
      col("doc_id"), length(col("text")).cast("long").as("bytes"))
    Compaction.manifest(files, "source", "doc_id", "bytes", targetBytes = 4096L)
      .select(col("source"), col("bin"), col("n_files"), col("total_bytes"),
        col("first_id"), col("last_id"))
      .orderBy(col("source"), col("bin"))
  }

  /** Pareto-frontier data selection (`operators/Pareto`) — the
    * documents no other document beats on BOTH axes (fewer tokens AND
    * ≥ quality score): the skyline that budget-constrained training-set
    * pickers select from. The classic formulation is a running max over
    * the global token order — a single-partition window this engine
    * refuses — so `Pareto.frontier2d` decomposes it: cost-grain
    * collapse, fixed-width buckets over a broadcast min/max, a
    * ≤B-row bucket-prefix window, and bucket-partitioned RANGE windows,
    * recombined as greatest(prefix, within). Scores ride the 1e-7
    * integer grid so every max/compare is exact; the oracle computes
    * the same frontier with the direct token-grain window it CAN
    * afford. */
  val q164ParetoFrontier = Q(
    "q164_pareto_frontier",
    s"""WITH $qualityLabSql,
       |pts AS (
       |  SELECT doc_id, n_tokens,
       |    CAST(round(score * 10000000) AS BIGINT) AS score_units
       |  FROM feat),
       |meq AS (SELECT n_tokens, max(score_units) AS m_eq FROM pts GROUP BY 1),
       |mlt AS (
       |  SELECT n_tokens, m_eq,
       |    max(m_eq) OVER (ORDER BY n_tokens
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m_lt
       |  FROM meq)
       |SELECT p.doc_id, p.n_tokens, p.score_units,
       |  round(CAST(p.score_units AS DOUBLE) / 10000000, 7) AS score
       |FROM pts p JOIN mlt ON mlt.n_tokens = p.n_tokens
       |WHERE p.score_units = mlt.m_eq
       |  AND (mlt.m_lt IS NULL OR p.score_units > mlt.m_lt)
       |ORDER BY p.n_tokens, p.doc_id""".stripMargin) { (spark, dir) =>
    import graft.operators.Pareto
    val pts = Tables.documents(spark, dir)
      .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).as("n_tokens"),
        round(QualityModel.score(col("toks")) * 10000000).cast("long")
          .as("score_units"))
    Pareto.frontier2d(pts, "n_tokens", "score_units")
      .select(col("doc_id"), col("n_tokens"), col("score_units"),
        round(col("score_units").cast("double") / 10000000, 7).as("score"))
      .orderBy(col("n_tokens"), col("doc_id"))
  }

  /** Asymmetric containment / quote detection
    * (`Dedup.containmentPairs`): c_a = |S_a∩S_b| / |S_a| finds a doc
    * EMBEDDED in another — the case Jaccard structurally misses (an
    * excerpt of a long doc has containment ≈ 1 but Jaccard well under
    * any symmetric threshold). The corpus gets deterministic 40-token
    * excerpts appended (id + 1e6), and with threshold 0.8 every
    * excerpt must pair with its source through the rare-shingle
    * candidate stage (shared with q28 — same df-cap scale contract)
    * while those same pairs sit far below q28's 0.5 Jaccard bar.
    * (Synthetic-id note, r13 review: this fixture family's fixed +1e6
    * id offset assumes the GATE corpora's id range; q226/q227 derive
    * their plant offset from max(id)+1 in-query — the scheme any
    * production-corpus fixture should copy.) */
  val q166ContainmentPairs = Q(
    "q166_containment_pairs",
    s"""WITH corpus AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id,
      |    array_to_string(string_split_regex(lower(text), '\\s+')[1:40], ' ') AS text
      |  FROM documents WHERE doc_id % 20 = 0),
      |docs AS (
      |  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t FROM corpus),
      |$rareShingleOverlapCtes
      |SELECT id_a, id_b, CAST(n_inter AS BIGINT) AS n_inter,
      |  round(CAST(n_inter AS DOUBLE) / sa.n_sh, 4) AS c_a,
      |  round(CAST(n_inter AS DOUBLE) / sb.n_sh, 4) AS c_b
      |FROM inter
      |JOIN sizes sa ON sa.doc_id = id_a
      |JOIN sizes sb ON sb.doc_id = id_b
      |WHERE greatest(CAST(n_inter AS DOUBLE) / sa.n_sh,
      |               CAST(n_inter AS DOUBLE) / sb.n_sh) >= 0.8
      |ORDER BY id_a, id_b""".stripMargin) { (spark, dir) =>
    val base = Tables.documents(spark, dir)
      .filter(col("doc_id") % 2 === 0).select(col("doc_id"), col("text"))
    val excerpts = Tables.documents(spark, dir)
      .filter(col("doc_id") % 20 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"),
        array_join(slice(split(lower(col("text")), "\\s+"), 1, 40), " ").as("text"))
    Dedup.containmentPairs(base.unionByName(excerpts), "doc_id", "text",
        n = 3, threshold = 0.8, maxDocFreq = 100)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Kneser–Ney smoothed bigram LM (Kneser & Ney 1995, the standard
    * n-gram smoothing) — upgrades q75's add-k unigram scoring with the
    * real thing: P(w2|w1) = max(c12−d,0)/c1 + d·N1+(w1,·)/c1 ·
    * N1+(·,w2)/N1+(·,·), where the continuation counts ask "how many
    * DISTINCT contexts" — the insight that makes KN the default LM
    * smoother. Every input is an exact integer count from three
    * vocabulary-grain aggregations off one corpus bigram pass (bigram
    * counts, per-w1 totals + distinct followers, per-w2 distinct
    * predecessors); the probability is one identical double expression
    * rounded 7dp. Top-20 frequent bigrams by smoothed probability. */
  val q167KneserNey = Q(
    "q167_kneser_ney",
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
      |  FROM documents),
      |bg AS (
      |  SELECT t[i] AS w1, t[i+1] AS w2, count(*) AS c12
      |  FROM toks, unnest(range(1, len(t))) u(i)
      |  GROUP BY 1, 2),
      |c1 AS (
      |  SELECT w1, CAST(sum(c12) AS BIGINT) AS c1, count(*) AS fwd
      |  FROM bg GROUP BY 1),
      |back AS (SELECT w2, count(*) AS back FROM bg GROUP BY 1),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS nbg FROM bg),
      |p AS (
      |  SELECT bg.w1, bg.w2, CAST(bg.c12 AS BIGINT) AS c12, c1.c1,
      |    round(greatest(CAST(bg.c12 AS DOUBLE) - 0.75, 0) / c1.c1
      |      + (0.75 * c1.fwd / c1.c1)
      |        * (back.back / CAST(tot.nbg AS DOUBLE)), 7) AS p_kn
      |  FROM bg JOIN c1 ON c1.w1 = bg.w1 JOIN back ON back.w2 = bg.w2, tot)
      |SELECT w1, w2, c12, c1, p_kn
      |FROM p WHERE c12 >= 5
      |ORDER BY p_kn DESC, w1, w2 LIMIT 20""".stripMargin) { (spark, dir) =>
    val toks = Tables.documents(spark, dir)
      .select(TextFns.tokens(col("text")).as("t"))
    // narrow bigram explode: zip each token with its successor in-row
    val bg = toks
      .filter(size(col("t")) >= 2)
      .select(explode(arrays_zip(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1))).as("z"))
      .select(col("z").getField("0").as("w1"), col("z").getField("1").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val c1 = bg.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("fwd"))
    val back = bg.groupBy(col("w2")).agg(count(lit(1)).as("back"))
    val tot = bg.agg(count(lit(1)).as("nbg"))
    bg.join(c1, "w1").join(back, "w2").crossJoin(broadcast(tot))
      .filter(col("c12") >= 5)
      .select(col("w1"), col("w2"), col("c12"), col("c1"),
        round(greatest(col("c12").cast("double") - 0.75, lit(0)) / col("c1")
          + (lit(0.75) * col("fwd") / col("c1"))
            * (col("back") / col("nbg").cast("double")), 7).as("p_kn"))
      .orderBy(col("p_kn").desc, col("w1"), col("w2"))
      .limit(20)
  }

  /** Reciprocal-rank fusion of sparse + dense retrieval (Cormack et
    * al. 2009's RRF, the standard hybrid-search combiner): BM25 top-10
    * (q137's operator, same probe set) and brute-force cosine top-10
    * over the aligned embeddings fuse by Σ 1/(60 + rank) — rank-based,
    * so the two incomparable score scales never mix. The fused score
    * is a fixed TWO-term expression over integer ranks (no float
    * aggregation), full-outer joined so docs found by only one
    * retriever still score. Candidate volume is |queries|×k per list —
    * the fusion itself costs nothing at corpus scale. */
  val q169RrfFusion = Q(
    "q169_rrf_fusion",
    s"""WITH ${bm25IndexCtes("doc_id")},
      |q AS (SELECT DISTINCT doc_id AS qid, t FROM tf
      |      WHERE doc_id IN (0, 97, 194, 291, 388)),
      |sc AS (
      |  SELECT q.qid, w.doc_id, round(sum(w.wgt), 4) AS score
      |  FROM q JOIN w ON q.t = w.t AND w.doc_id <> q.qid
      |  GROUP BY 1, 2),
      |sp AS (
      |  SELECT qid, doc_id, CAST(rnk AS INT) AS r_sparse FROM (
      |    SELECT qid, doc_id,
      |      row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rnk
      |    FROM sc) WHERE rnk <= 10),
      |dn0 AS (
      |  SELECT p.vec_id AS qid, e.vec_id AS doc_id,
      |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
      |                                 CAST(p.embedding AS DOUBLE[])), 6) AS cos
      |  FROM embeddings e
      |  JOIN (SELECT vec_id, embedding FROM embeddings
      |        WHERE vec_id IN (0, 97, 194, 291, 388)) p
      |    ON e.vec_id <> p.vec_id),
      |dn AS (
      |  SELECT qid, doc_id, CAST(rnk AS INT) AS r_dense FROM (
      |    SELECT qid, doc_id,
      |      row_number() OVER (PARTITION BY qid ORDER BY cos DESC, doc_id) AS rnk
      |    FROM dn0) WHERE rnk <= 10),
      |fu AS (
      |  SELECT coalesce(sp.qid, dn.qid) AS qid,
      |    coalesce(sp.doc_id, dn.doc_id) AS doc_id,
      |    sp.r_sparse, dn.r_dense,
      |    round(coalesce(1.0 / (60 + sp.r_sparse), 0)
      |      + coalesce(1.0 / (60 + dn.r_dense), 0), 7) AS rrf
      |  FROM sp FULL OUTER JOIN dn
      |    ON sp.qid = dn.qid AND sp.doc_id = dn.doc_id)
      |SELECT qid, CAST(rnk AS INT) AS rrf_rank, doc_id, r_sparse, r_dense, rrf
      |FROM (
      |  SELECT *, row_number() OVER (PARTITION BY qid
      |    ORDER BY rrf DESC, doc_id) AS rnk FROM fu)
      |WHERE rnk <= 5 ORDER BY qid, rrf_rank""".stripMargin) { (spark, dir) =>
    import graft.functions.VectorFns
    import org.apache.spark.sql.expressions.Window
    // the query batch is a LITERAL id list (the q151 serving shape):
    // corpus-size-free by construction, which is what makes the dense
    // side's broadcast(probes) hint legal under the registry-wide
    // bounded-broadcast audit — a %-of-corpus probe filter is not
    val qids = Seq(0L, 97L, 194L, 291L, 388L)
    val sparse = Bm25.topK(Tables.documents(spark, dir), "doc_id", "text",
        querySelector = col("doc_id").isin(qids: _*), k = 10)
      .select(col("qid"), col("doc_id"), col("rnk").as("r_sparse"))
    val emb = Tables.embeddings(spark, dir)
    val probes = emb.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("e_q"))
    val byQcos = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("doc_id"))
    val dense = emb.select(col("vec_id").as("doc_id"), col("embedding").as("e_d"))
      .crossJoin(broadcast(probes))
      .filter(col("doc_id") =!= col("qid"))
      .select(col("qid"), col("doc_id"),
        round(VectorFns.cosine(col("e_d"), col("e_q")), 6).as("cos"))
      .withColumn("r_dense", row_number().over(byQcos).cast("int"))
      .filter(col("r_dense") <= 10)
      .select(col("qid"), col("doc_id"), col("r_dense"))
    val byQrrf = Window.partitionBy(col("qid"))
      .orderBy(col("rrf").desc, col("doc_id"))
    sparse.join(dense, Seq("qid", "doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(60) + col("r_sparse")), lit(0.0))
          + coalesce(lit(1.0) / (lit(60) + col("r_dense")), lit(0.0)), 7))
      .withColumn("rrf_rank", row_number().over(byQrrf).cast("int"))
      .filter(col("rrf_rank") <= 5)
      .select(col("qid"), col("rrf_rank"), col("doc_id"),
        col("r_sparse"), col("r_dense"), col("rrf"))
      .orderBy(col("qid"), col("rrf_rank"))
  }

  /** Incremental compaction re-plan (`Compaction.incrementalManifest`)
    * — q162's O(delta) daily-ingest story: a delta batch lands in 2 of
    * 20 partitions, so only those two re-plan (broadcast semi-join on
    * the delta's distinct keys prunes the listing BEFORE the window);
    * 18 partitions' stored manifests stay valid because bins are a
    * pure function of each partition's own listing. Output is the
    * refreshed manifest for affected partitions with per-bin new-file
    * counts — what a maintenance job would merge over the stored
    * manifest. */
  val q173IncrementalCompaction = Q(
    "q173_incremental_compaction",
    """WITH f AS (
      |  SELECT source, doc_id, CAST(length(text) AS BIGINT) AS bytes,
      |    0 AS is_new
      |  FROM documents),
      |nf AS (
      |  SELECT source, doc_id + 1000000 AS doc_id,
      |    CAST(length(text) AS BIGINT) // 2 + 64 AS bytes, 1 AS is_new
      |  FROM documents
      |  WHERE source IN ('src1', 'src7') AND doc_id % 3 = 0),
      |u AS (
      |  SELECT * FROM f WHERE source IN (SELECT DISTINCT source FROM nf)
      |  UNION ALL SELECT * FROM nf),
      |c AS (
      |  SELECT source, doc_id, bytes, is_new,
      |    coalesce(sum(bytes) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
      |  FROM u),
      |b AS (SELECT source, doc_id, bytes, is_new, prior // 4096 AS bin FROM c)
      |SELECT source, CAST(bin AS BIGINT) AS bin,
      |  CAST(count(*) AS BIGINT) AS n_files,
      |  CAST(sum(is_new) AS BIGINT) AS n_new,
      |  CAST(sum(bytes) AS BIGINT) AS total_bytes,
      |  min(doc_id) AS first_id, max(doc_id) AS last_id
      |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
    import graft.operators.Compaction
    val files = Tables.documents(spark, dir).select(col("source"),
      col("doc_id"), length(col("text")).cast("long").as("bytes"))
    val delta = Tables.documents(spark, dir)
      .filter(col("source").isin("src1", "src7") && col("doc_id") % 3 === 0)
      .select(col("source"), (col("doc_id") + 1000000).as("doc_id"),
        ((length(col("text")).cast("long") / 2).cast("long") + 64).as("bytes"))
    Compaction.incrementalManifest(files, delta, "source", "doc_id", "bytes",
        targetBytes = 4096L)
      .orderBy(col("source"), col("bin"))
  }

  /** HLL set-operation estimates (the sketch-algebra payoff of q148's
    * portable HyperLogLog): pairwise source shingle-overlap via
    * inclusion–exclusion |A∩B| ≈ E(A) + E(B) − E(A∪B), where the UNION
    * sketch is just the bucketwise register max — the merge that makes
    * HLL state mergeable is the same operation that answers set
    * algebra. All register math is exact integers (the q148 state
    * contract), every estimate is the identical linear-counting/raw
    * expression, and the EXACT intersection rides along for the honest
    * error column — est-vs-exact hash-gated, like q148 itself. Work:
    * registers are one max-agg over the corpus; everything pairwise
    * happens at (190 pairs × 64 buckets) grain — nothing corpus-sized
    * is ever pairwise. */
  val q176HllOverlap = Q(
    "q176_hll_overlap",
    s"""WITH $hllRegisterCtes,
      |reg AS (
      |  SELECT spine.source, spine.b, coalesce(reg0.m, 0) AS m
      |  FROM spine LEFT JOIN reg0 ON spine.source = reg0.source AND spine.b = reg0.b),
      |st AS (
      |  SELECT source,
      |    CAST(sum(1::BIGINT << (55 - m)) AS BIGINT) AS t_scaled,
      |    CAST(sum(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_zero
      |  FROM reg GROUP BY source),
      |pr AS (
      |  SELECT a.source AS sa, b.source AS sb
      |  FROM (SELECT DISTINCT source FROM documents) a
      |  JOIN (SELECT DISTINCT source FROM documents) b ON a.source < b.source),
      |regu AS (
      |  SELECT pr.sa, pr.sb, ra.b, greatest(ra.m, rb.m) AS m
      |  FROM pr
      |  JOIN reg ra ON ra.source = pr.sa
      |  JOIN reg rb ON rb.source = pr.sb AND rb.b = ra.b),
      |stu AS (
      |  SELECT sa, sb,
      |    CAST(sum(1::BIGINT << (55 - m)) AS BIGINT) AS t_scaled,
      |    CAST(sum(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_zero
      |  FROM regu GROUP BY 1, 2),
      |dist AS (SELECT DISTINCT source, tok FROM toks),
      |ex AS (
      |  SELECT a.source AS sa, b.source AS sb, CAST(count(*) AS BIGINT) AS c
      |  FROM dist a JOIN dist b ON a.tok = b.tok AND a.source < b.source
      |  GROUP BY 1, 2),
      |est AS (
      |  SELECT p.sa, p.sb,
      |    CASE WHEN 1.046802484394006e20 / ta.t_scaled <= 160 AND ta.v_zero > 0
      |         THEN 64 * ln(CAST(64 AS DOUBLE) / ta.v_zero)
      |         ELSE 1.046802484394006e20 / ta.t_scaled END AS ea,
      |    CASE WHEN 1.046802484394006e20 / tb.t_scaled <= 160 AND tb.v_zero > 0
      |         THEN 64 * ln(CAST(64 AS DOUBLE) / tb.v_zero)
      |         ELSE 1.046802484394006e20 / tb.t_scaled END AS eb,
      |    CASE WHEN 1.046802484394006e20 / tu.t_scaled <= 160 AND tu.v_zero > 0
      |         THEN 64 * ln(CAST(64 AS DOUBLE) / tu.v_zero)
      |         ELSE 1.046802484394006e20 / tu.t_scaled END AS eu,
      |    coalesce(ex.c, 0) AS exact_overlap
      |  FROM pr p
      |  JOIN st ta ON ta.source = p.sa
      |  JOIN st tb ON tb.source = p.sb
      |  JOIN stu tu ON tu.sa = p.sa AND tu.sb = p.sb
      |  LEFT JOIN ex ON ex.sa = p.sa AND ex.sb = p.sb)
      |SELECT sa, sb, round(ea, 4) AS est_a, round(eb, 4) AS est_b,
      |  round(eu, 4) AS est_union,
      |  round(ea + eb - eu, 4) + 0.0 AS est_overlap, exact_overlap
      |FROM est ORDER BY sa, sb""".stripMargin) { (spark, dir) =>
    import graft.functions.PortableHll
    val docs = Tables.documents(spark, dir)
    val toks = sourceShingles(docs)
    val sources = docs.select(col("source")).distinct()
    val spine = sources
      .select(col("source"), explode(sequence(lit(0L), lit(63L))).as("b"))
    val reg = spine
      .join(PortableHll.registers(toks, "source", col("tok")), Seq("source", "b"), "left")
      .select(col("source"), col("b"), coalesce(col("m"), lit(0)).as("m"))
    def collapse(r: org.apache.spark.sql.DataFrame, keys: Seq[String]) =
      r.groupBy(keys.map(col): _*)
        .agg(sum(expr("shiftleft(1L, 55 - m)")).as("t_scaled"),
          sum(when(col("m") === 0, 1L).otherwise(0L)).as("v_zero"))
    val st = collapse(reg, Seq("source"))
    val pr = sources.select(col("source").as("sa"))
      .join(sources.select(col("source").as("sb")), col("sa") < col("sb"))
    val regu = pr
      .join(reg.select(col("source").as("sa"), col("b"), col("m").as("ma")), Seq("sa"))
      .join(reg.select(col("source").as("sb"), col("b"), col("m").as("mb")),
        Seq("sb", "b"))
      .select(col("sa"), col("sb"), col("b"), greatest(col("ma"), col("mb")).as("m"))
    val stu = collapse(regu, Seq("sa", "sb"))
    val dist = toks.distinct()
    val ex = dist.select(col("source").as("sa"), col("tok"))
      .join(dist.select(col("source").as("sb"), col("tok")), Seq("tok"))
      .filter(col("sa") < col("sb"))
      .groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("c"))
    def e(t: org.apache.spark.sql.Column, v: org.apache.spark.sql.Column) =
      PortableHll.estimate(t, v)
    pr.join(st.select(col("source").as("sa"), col("t_scaled").as("ta"),
        col("v_zero").as("va")), Seq("sa"))
      .join(st.select(col("source").as("sb"), col("t_scaled").as("tb"),
        col("v_zero").as("vb")), Seq("sb"))
      .join(stu.select(col("sa"), col("sb"), col("t_scaled").as("tu"),
        col("v_zero").as("vu")), Seq("sa", "sb"))
      .join(ex, Seq("sa", "sb"), "left")
      .select(col("sa"), col("sb"),
        round(e(col("ta"), col("va")), 4).as("est_a"),
        round(e(col("tb"), col("vb")), 4).as("est_b"),
        round(e(col("tu"), col("vu")), 4).as("est_union"),
        Q.noNegZero(round(e(col("ta"), col("va")) + e(col("tb"), col("vb"))
          - e(col("tu"), col("vu")), 4)).as("est_overlap"),
        coalesce(col("c"), lit(0L)).as("exact_overlap"))
      .orderBy(col("sa"), col("sb"))
  }

  /** Readability scoring (Flesch–Kincaid grade, Kincaid 1975 — the
    * standard document-difficulty signal pretraining pipelines filter
    * and mix on): per-doc word / sentence-mark / vowel-group counts
    * (the classic syllable proxy) are exact integers; the per-SOURCE
    * corpus grade derives from AGGREGATED integer counts — never a
    * mean of per-doc floats, whose summation order would flake the
    * hash — and the hard-doc share compares each doc's own grade (a
    * deterministic per-row double) to the 12th-grade bar. One scan,
    * one partial-agg shuffle. */
  val q177Readability = Q(
    "q177_readability",
    """WITH f AS (
      |  SELECT source,
      |    CAST(len(string_split_regex(lower(text), '\s+')) AS BIGINT) AS words,
      |    CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT)
      |      AS sents,
      |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
      |      AS sylls
      |  FROM documents),
      |g AS (
      |  SELECT source, words, sents, sylls,
      |    0.39 * words / sents + 11.8 * sylls / words - 15.59 AS fk
      |  FROM f WHERE words > 0)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(words) AS BIGINT) AS total_words,
      |  CAST(sum(sents) AS BIGINT) AS total_sents,
      |  CAST(sum(sylls) AS BIGINT) AS total_sylls,
      |  round(0.39 * sum(words) / sum(sents)
      |    + 11.8 * sum(sylls) / sum(words) - 15.59, 4) + 0.0 AS fk_corpus,
      |  CAST(sum(CASE WHEN fk > 12 THEN 1 ELSE 0 END) AS BIGINT) AS n_hard
      |FROM g GROUP BY source ORDER BY source""".stripMargin) { (spark, dir) =>
    val f = Tables.documents(spark, dir).select(col("source"),
      size(split(lower(col("text")), "\\s+")).cast("long").as("words"),
      greatest(size(expr("regexp_extract_all(text, '[.!?]+', 0)")), lit(1))
        .cast("long").as("sents"),
      size(expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)"))
        .cast("long").as("sylls"))
      .filter(col("words") > 0)
      .withColumn("fk", lit(0.39) * col("words") / col("sents")
        + lit(11.8) * col("sylls") / col("words") - 15.59)
    f.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("words")).as("total_words"),
        sum(col("sents")).as("total_sents"),
        sum(col("sylls")).as("total_sylls"),
        Q.noNegZero(round(lit(0.39) * sum(col("words")) / sum(col("sents"))
          + lit(11.8) * sum(col("sylls")) / sum(col("words")) - 15.59, 4))
          .as("fk_corpus"),
        sum(when(col("fk") > 12, 1L).otherwise(0L)).as("n_hard"))
      .orderBy(col("source"))
  }

  /** Dataset card (Gebru et al. 2021 "Datasheets for Datasets") — the
    * one-page per-source summary a corpus ships with, computed as ONE
    * registered query: volume (docs, tokens, median length), language
    * mix (count + modal language), exact-dup rate (q23's normalized
    * hash, counted corpus-wide then attributed to sources), and a
    * basic quality-pass share (the q102-family length/punct rule). All
    * rates derive from integer counts; the median rides the q14
    * percentile≡quantile_cont parity. Everything aggregates at source
    * or hash grain — the card costs two scans of doc metadata however
    * large the corpus. */
  val q180DatasetCard = Q(
    "q180_dataset_card",
    """WITH d AS (
      |  SELECT doc_id, source, lang,
      |    CAST(len(string_split_regex(lower(text), '\s+')) AS BIGINT) AS toks,
      |    CASE WHEN length(text) = 0 THEN 0.0
      |         ELSE CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g'))
      |              AS DOUBLE) / length(text) END AS punct,
      |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS nh
      |  FROM documents),
      |dup AS (
      |  SELECT nh, count(*) AS copies FROM d GROUP BY nh),
      |lm AS (
      |  SELECT source, lang, count(*) AS c,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY count(*) DESC, lang) AS rn
      |  FROM d GROUP BY source, lang),
      |card AS (
      |  SELECT d.source,
      |    CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(d.toks) AS BIGINT) AS total_tokens,
      |    round(quantile_cont(d.toks, 0.50), 4) AS p50_tokens,
      |    CAST(count(DISTINCT d.lang) AS BIGINT) AS n_langs,
      |    CAST(sum(CASE WHEN dup.copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_dup_docs,
      |    CAST(sum(CASE WHEN d.toks BETWEEN 10 AND 5000 AND d.punct < 0.2
      |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_pass
      |  FROM d JOIN dup ON dup.nh = d.nh
      |  GROUP BY d.source)
      |SELECT card.source, n_docs, total_tokens, p50_tokens, n_langs,
      |  lm.lang AS top_lang, n_dup_docs,
      |  round(CAST(n_dup_docs AS DOUBLE) / n_docs, 4) AS dup_rate,
      |  round(CAST(n_quality_pass AS DOUBLE) / n_docs, 4) AS quality_rate
      |FROM card JOIN lm ON lm.source = card.source AND lm.rn = 1
      |ORDER BY card.source""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(spark, dir).select(col("doc_id"), col("source"),
      col("lang"),
      size(split(lower(col("text")), "\\s+")).cast("long").as("toks"),
      TextFns.punctRatio(col("text")).as("punct"),
      TextFns.fingerprint(col("text")).as("nh"))
    val dup = d.groupBy(col("nh")).agg(count(lit(1)).as("copies"))
    val lm = d.groupBy(col("source"), col("lang")).agg(count(lit(1)).as("c"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("source"))
        .orderBy(col("c").desc, col("lang"))))
      .filter(col("rn") === 1)
      .select(col("source"), col("lang").as("top_lang"))
    val card = d.join(dup, "nh")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).as("total_tokens"),
        round(expr("percentile(toks, 0.50)"), 4).as("p50_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        sum(when(col("copies") > 1, 1L).otherwise(0L)).as("n_dup_docs"),
        sum(when(col("toks").between(10, 5000) && col("punct") < 0.2, 1L)
          .otherwise(0L)).as("n_quality_pass"))
    card.join(lm, "source")
      .select(col("source"), col("n_docs"), col("total_tokens"),
        col("p50_tokens"), col("n_langs"), col("top_lang"), col("n_dup_docs"),
        round(col("n_dup_docs").cast("double") / col("n_docs"), 4).as("dup_rate"),
        round(col("n_quality_pass").cast("double") / col("n_docs"), 4)
          .as("quality_rate"))
      .orderBy(col("source"))
  }

  /** Zipf-law fit per source: OLS of ln(freq) on ln(rank) over each
    * source's top-200 unigram types, with R² as the fit diagnostic —
    * the "is this source natural language or something synthetic"
    * screen (natural text sits near slope −1; tables, logs and
    * boilerplate-heavy sources bend away and show low R²), complementing
    * q120's global coverage ladder with a per-source shape statistic.
    * Scale shape: one map-side-combined shuffle to (source, term)
    * grain; the rank window runs at vocab grain (a bounded TopK-style
    * aggregator with a string id is the lever if per-source vocab ever
    * dwarfs a task). Float discipline: rank and freq are exact
    * integers, each per-term ln-moment (x, y, xy, x², y²) is quantized
    * to a 1e-9 grid before the per-source BIGINT sums, and
    * slope/intercept/R² are closed-form doubles over those six exact
    * sums — no order-dependent float reduction. */
  val q191ZipfFit = Q(
    "q191_zipf_fit",
    """WITH toks AS (
      |  SELECT source, unnest(string_split_regex(lower(text), '\s+')) AS term
      |  FROM documents),
      |freq AS (
      |  SELECT source, term, CAST(count(*) AS BIGINT) AS f
      |  FROM toks WHERE term <> '' GROUP BY 1, 2),
      |ranked AS (
      |  SELECT source, f,
      |    row_number() OVER (PARTITION BY source ORDER BY f DESC, term) AS rk
      |  FROM freq QUALIFY rk <= 200),
      |q AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(round(ln(rk) * 1e9) AS BIGINT)) AS BIGINT) AS sx,
      |    CAST(sum(CAST(round(ln(f) * 1e9) AS BIGINT)) AS BIGINT) AS sy,
      |    CAST(sum(CAST(round(ln(rk) * ln(f) * 1e9) AS BIGINT)) AS BIGINT) AS sxy,
      |    CAST(sum(CAST(round(ln(rk) * ln(rk) * 1e9) AS BIGINT)) AS BIGINT) AS sxx,
      |    CAST(sum(CAST(round(ln(f) * ln(f) * 1e9) AS BIGINT)) AS BIGINT) AS syy
      |  FROM ranked GROUP BY 1)
      |SELECT source, n,
      |  round((n * (sxy / 1e9) - (sx / 1e9) * (sy / 1e9))
      |    / (n * (sxx / 1e9) - (sx / 1e9) * (sx / 1e9)), 6) + 0.0 AS zipf_slope,
      |  round((n * (sxy / 1e9) - (sx / 1e9) * (sy / 1e9))
      |    * (n * (sxy / 1e9) - (sx / 1e9) * (sy / 1e9))
      |    / ((n * (sxx / 1e9) - (sx / 1e9) * (sx / 1e9))
      |      * (n * (syy / 1e9) - (sy / 1e9) * (sy / 1e9))), 6) + 0.0 AS r2
      |FROM q ORDER BY source""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(spark, dir)
      .select(col("source"), explode(TextFns.tokens(col("text"))).as("term"))
    val freq = toks.filter(col("term") =!= "")
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("f"))
    val ranked = freq
      .withColumn("rk", row_number().over(Window.partitionBy(col("source"))
        .orderBy(col("f").desc, col("term"))))
      .filter(col("rk") <= 200)
    def grid(e: org.apache.spark.sql.Column) = round(e * 1e9).cast("long")
    val lnRk = log(col("rk")); val lnF = log(col("f"))
    val q = ranked.groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sum(grid(lnRk)).as("sx"), sum(grid(lnF)).as("sy"),
        sum(grid(lnRk * lnF)).as("sxy"),
        sum(grid(lnRk * lnRk)).as("sxx"),
        sum(grid(lnF * lnF)).as("syy"))
    val sxd = col("sx") / 1e9; val syd = col("sy") / 1e9
    val cov = col("n") * (col("sxy") / 1e9) - sxd * syd
    val varX = col("n") * (col("sxx") / 1e9) - sxd * sxd
    val varY = col("n") * (col("syy") / 1e9) - syd * syd
    q.select(col("source"), col("n"),
        Q.noNegZero(round(cov / varX, 6)).as("zipf_slope"),
        Q.noNegZero(round(cov * cov / (varX * varY), 6)).as("r2"))
      .orderBy(col("source"))
  }

  /** Cross-source quantile normalization of document length — the
    * "make source A's score distribution comparable to source B's"
    * transform batch scoring pipelines need before mixing corpora
    * (quantile normalization, Bolstad 2003): map each source's k-th
    * decile to the POOLED decile mean, reported as the per-(source,
    * decile) shift table a downstream scorer would apply. The exact
    * trick at scale: deciles are NOT a per-source full sort — lengths
    * collapse to (source, value)-grain counts first, a bounded window
    * cumsums the distinct values, and a value whose count straddles a
    * boundary is SPLIT by exact integer overlap
    * contrib = max(0, min(cum, b_k) − max(cum−c, b_{k−1})),
    * b_k = ⌊k·n/10⌋ — so every decile holds exactly ⌊k·n/10⌋−⌊(k−1)·n/10⌋
    * rows with no tie-break ambiguity and no row-level sort. All masses
    * are DECIMAL(38,0)/HUGEINT sums of v·contrib; the only floats are
    * three final divisions. */
  val q192QuantileNormalize = Q(
    "q192_quantile_normalize",
    """WITH vg AS (
      |  SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS c
      |  FROM documents GROUP BY 1, 2),
      |t AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM vg GROUP BY 1),
      |cw AS (
      |  SELECT source, v, c,
      |    CAST(sum(c) OVER (PARTITION BY source ORDER BY v) AS BIGINT) AS cum
      |  FROM vg),
      |d AS (SELECT unnest(range(1, 11)) AS k),
      |x AS (
      |  SELECT cw.source, d.k, cw.v,
      |    greatest(0, least(cw.cum, (d.k * t.n) // 10)
      |      - greatest(cw.cum - cw.c, ((d.k - 1) * t.n) // 10)) AS contrib
      |  FROM cw JOIN t USING (source) CROSS JOIN d),
      |g AS (
      |  SELECT source, k, CAST(sum(contrib) AS BIGINT) AS n_docs,
      |    sum(CAST(v AS HUGEINT) * contrib) AS mass
      |  FROM x WHERE contrib > 0 GROUP BY 1, 2),
      |tg AS (
      |  SELECT k, CAST(sum(n_docs) AS BIGINT) AS tn, sum(mass) AS tmass
      |  FROM g GROUP BY 1)
      |SELECT g.source, CAST(g.k AS INT) AS decile, g.n_docs,
      |  round(CAST(g.mass AS DOUBLE) / g.n_docs, 4) AS mean_chars,
      |  round(CAST(tg.tmass AS DOUBLE) / tg.tn, 4) AS target_chars,
      |  round(CAST(tg.tmass AS DOUBLE) / tg.tn
      |    - CAST(g.mass AS DOUBLE) / g.n_docs, 4) + 0.0 AS shift
      |FROM g JOIN tg USING (k)
      |ORDER BY source, decile""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val vg = Tables.documents(spark, dir)
      .groupBy(col("source"), col("n_chars").as("v"))
      .agg(count(lit(1)).as("c"))
    val t = vg.groupBy(col("source")).agg(sum(col("c")).as("n"))
    val cw = vg.withColumn("cum",
      sum(col("c")).over(Window.partitionBy(col("source")).orderBy(col("v"))))
    val d = spark.range(1, 11).select(col("id").as("k"))
    val x = cw.join(t, "source").crossJoin(broadcast(d))
      .select(col("source"), col("k"), col("v"),
        greatest(lit(0L), least(col("cum"), expr("k * n div 10"))
          - greatest(col("cum") - col("c"), expr("(k - 1) * n div 10")))
          .as("contrib"))
    val g = x.filter(col("contrib") > 0)
      .groupBy(col("source"), col("k"))
      .agg(sum(col("contrib")).as("n_docs"),
        sum(col("v").cast("decimal(38,0)") * col("contrib")).as("mass"))
    val tg = g.groupBy(col("k"))
      .agg(sum(col("n_docs")).as("tn"), sum(col("mass")).as("tmass"))
    // tg is decile-grain (10 rows) but a grouped aggregate over the
    // documents scan — unhinted per house policy; AQE broadcasts by size
    g.join(tg, "k")
      .select(col("source"), col("k").cast("int").as("decile"), col("n_docs"),
        round(col("mass").cast("double") / col("n_docs"), 4).as("mean_chars"),
        round(col("tmass").cast("double") / col("tn"), 4).as("target_chars"),
        Q.noNegZero(round(col("tmass").cast("double") / col("tn")
          - col("mass").cast("double") / col("n_docs"), 4)).as("shift"))
      .orderBy(col("source"), col("decile"))
  }

  /** Perplexity-based quality filtering (the CCNet/Wenzek 2020 recipe):
    * score every document's bigram perplexity under the corpus-trained
    * Kneser–Ney model (q167's model, reused CTE-for-CTE) and report the
    * per-source high-perplexity share — the standard "this source is
    * full of outlier text" signal a mixing pipeline acts on. Self-
    * trained simplification documented: production trains the LM on a
    * trusted reference corpus; the plumbing (model join + per-doc
    * aggregation) is identical. Scale shape: the model lives at
    * vocabulary grain; the doc-side join is (doc, bigram)-grain with
    * map-side-combined counts — no row ever carries text past the first
    * explode. Float discipline: p_KN is one identical double expression
    * over exact integer counts, each bigram's ln p is quantized to a
    * 1e-9 grid, per-doc means are re-quantized integers, and the only
    * order-sensitive reduction left (Σ k·qlp per doc) is a BIGINT sum. */
  val q193PerplexityFilter = Q(
    "q193_perplexity_filter",
    """WITH toks AS (
      |  SELECT doc_id, source, string_split_regex(lower(text), '\s+') AS t
      |  FROM documents),
      |bg0 AS (
      |  SELECT doc_id, source, t[i] AS w1, t[i+1] AS w2
      |  FROM toks, unnest(range(1, len(t))) u(i)),
      |bg AS (SELECT w1, w2, count(*) AS c12 FROM bg0 GROUP BY 1, 2),
      |c1 AS (
      |  SELECT w1, CAST(sum(c12) AS BIGINT) AS c1, count(*) AS fwd
      |  FROM bg GROUP BY 1),
      |back AS (SELECT w2, count(*) AS back FROM bg GROUP BY 1),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS nbg FROM bg),
      |p AS (
      |  SELECT bg.w1, bg.w2,
      |    CAST(round(ln(greatest(CAST(bg.c12 AS DOUBLE) - 0.75, 0) / c1.c1
      |      + (0.75 * c1.fwd / c1.c1) * (back.back / CAST(tot.nbg AS DOUBLE)))
      |      * 1e9) AS BIGINT) AS qlp
      |  FROM bg JOIN c1 ON c1.w1 = bg.w1 JOIN back ON back.w2 = bg.w2, tot),
      |dbg AS (
      |  SELECT doc_id, source, w1, w2, CAST(count(*) AS BIGINT) AS k
      |  FROM bg0 GROUP BY 1, 2, 3, 4),
      |dm AS (
      |  SELECT doc_id, source,
      |    CAST(round(CAST(sum(k * qlp) AS BIGINT) / CAST(sum(k) AS BIGINT))
      |      AS BIGINT) AS qmean
      |  FROM dbg JOIN p ON p.w1 = dbg.w1 AND p.w2 = dbg.w2
      |  GROUP BY 1, 2)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  round(CAST(sum(qmean) AS BIGINT) / count(*) / 1e9, 6) + 0.0 AS avg_logprob,
      |  CAST(sum(CASE WHEN exp(-qmean / 1e9) > 31.0 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_high_ppl,
      |  round(CAST(sum(CASE WHEN exp(-qmean / 1e9) > 31.0 THEN 1 ELSE 0 END)
      |    AS DOUBLE) / count(*), 6) AS high_ppl_share
      |FROM dm GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), TextFns.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
    val bg0 = toks.select(col("doc_id"), col("source"),
        explode(arrays_zip(
          slice(col("t"), lit(1), size(col("t")) - 1),
          slice(col("t"), lit(2), size(col("t")) - 1))).as("z"))
      .select(col("doc_id"), col("source"),
        col("z").getField("0").as("w1"), col("z").getField("1").as("w2"))
    val bg = bg0.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val c1 = bg.groupBy(col("w1")).agg(sum(col("c12")).as("c1"), count(lit(1)).as("fwd"))
    val back = bg.groupBy(col("w2")).agg(count(lit(1)).as("back"))
    val tot = bg.agg(count(lit(1)).as("nbg"))
    val p = bg.join(c1, "w1").join(back, "w2").crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"),
        round(log(greatest(col("c12").cast("double") - 0.75, lit(0)) / col("c1")
          + (lit(0.75) * col("fwd") / col("c1"))
            * (col("back") / col("nbg").cast("double"))) * 1e9).cast("long")
          .as("qlp"))
    val dbg = bg0.groupBy(col("doc_id"), col("source"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("k"))
    val dm = dbg.join(p, Seq("w1", "w2"))
      .groupBy(col("doc_id"), col("source"))
      .agg(round(sum(col("k") * col("qlp")) / sum(col("k"))).cast("long").as("qmean"))
    val hi = exp(-col("qmean") / 1e9) > 31.0
    dm.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        Q.noNegZero(round(sum(col("qmean")) / count(lit(1)) / 1e9, 6)).as("avg_logprob"),
        sum(when(hi, 1L).otherwise(0L)).as("n_high_ppl"),
        round(sum(when(hi, 1L).otherwise(0L)).cast("double") / count(lit(1)), 6)
          .as("high_ppl_share"))
      .orderBy(col("source"))
  }

  /** Heaps'-law vocabulary-growth fit per source (Heaps 1978) — the
    * companion screen to q191's Zipf slope: natural language grows its
    * vocabulary as V(N) ≈ k·N^β with β ≈ 0.4-0.6; β near 0 means a
    * closed vocabulary (logs, tables, templates), β near 1 means
    * near-random tokens (hashes, ids) — both mixing red flags. The
    * growth curve is sampled WITHOUT any cumulative-distinct pass:
    * docs bucket into 10 id-range slices per source, a token's first
    * occurrence is min(doc_id) at VOCABULARY grain, and V at each
    * slice boundary is the running sum of per-slice first-occurrence
    * counts — two shuffles (doc-grain token counts, vocab-grain first
    * occurrence), a ≤10-row-per-source window, then q191's gridded
    * ln-ln OLS. Scale shape: shuffled bytes track the vocabulary, not
    * token volume; nothing is ever sorted at token grain. */
  val q194HeapsLaw = Q(
    "q194_heaps_law",
    """WITH d AS (
      |  SELECT source, doc_id,
      |    len(list_filter(string_split_regex(lower(text), '\s+'),
      |      t -> t <> '')) AS ntok
      |  FROM documents),
      |rng AS (SELECT source, min(doc_id) AS mn, max(doc_id) AS mx FROM d GROUP BY 1),
      |db AS (
      |  SELECT d.source, d.ntok,
      |    least(9, ((d.doc_id - r.mn) * 10) // (r.mx - r.mn + 1)) AS b
      |  FROM d JOIN rng r ON r.source = d.source),
      |tb AS (SELECT source, b, CAST(sum(ntok) AS BIGINT) AS tk FROM db GROUP BY 1, 2),
      |ft AS (
      |  SELECT source, s AS term, min(doc_id) AS fd
      |  FROM documents, unnest(string_split_regex(lower(text), '\s+')) AS u(s)
      |  WHERE s <> '' GROUP BY source, s),
      |fb AS (
      |  SELECT f.source,
      |    least(9, ((f.fd - r.mn) * 10) // (r.mx - r.mn + 1)) AS b,
      |    CAST(count(*) AS BIGINT) AS nv
      |  FROM ft f JOIN rng r ON r.source = f.source GROUP BY 1, 2),
      |pts AS (
      |  SELECT t.source,
      |    CAST(sum(t.tk) OVER w AS BIGINT) AS cn,
      |    CAST(sum(coalesce(f.nv, 0)) OVER w AS BIGINT) AS cv
      |  FROM tb t LEFT JOIN fb f ON f.source = t.source AND f.b = t.b
      |  WINDOW w AS (PARTITION BY t.source ORDER BY t.b ROWS UNBOUNDED PRECEDING)),
      |q AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(round(ln(cn) * 1e9) AS BIGINT)) AS BIGINT) AS sx,
      |    CAST(sum(CAST(round(ln(cv) * 1e9) AS BIGINT)) AS BIGINT) AS sy,
      |    CAST(sum(CAST(round(ln(cn) * ln(cv) * 1e9) AS BIGINT)) AS BIGINT) AS sxy,
      |    CAST(sum(CAST(round(ln(cn) * ln(cn) * 1e9) AS BIGINT)) AS BIGINT) AS sxx,
      |    CAST(sum(CAST(round(ln(cv) * ln(cv) * 1e9) AS BIGINT)) AS BIGINT) AS syy
      |  FROM pts WHERE cn > 0 AND cv > 0 GROUP BY 1)
      |SELECT source, n AS n_points,
      |  round((n * (sxy / 1e9) - (sx / 1e9) * (sy / 1e9))
      |    / (n * (sxx / 1e9) - (sx / 1e9) * (sx / 1e9)), 6) + 0.0 AS heaps_beta,
      |  round((n * (sxy / 1e9) - (sx / 1e9) * (sy / 1e9))
      |    * (n * (sxy / 1e9) - (sx / 1e9) * (sy / 1e9))
      |    / ((n * (sxx / 1e9) - (sx / 1e9) * (sx / 1e9))
      |      * (n * (syy / 1e9) - (sy / 1e9) * (sy / 1e9))), 6) + 0.0 AS r2
      |FROM q ORDER BY source""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val d = docs.select(col("source"), col("doc_id"),
      size(filter(TextFns.tokens(col("text")), t => t =!= "")).cast("long").as("ntok"))
    val rng = d.groupBy(col("source"))
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
    val db = d.join(rng, "source")
      .select(col("source"), col("ntok"),
        least(lit(9L), expr("((doc_id - mn) * 10) div (mx - mn + 1)")).as("b"))
    val tb = db.groupBy(col("source"), col("b")).agg(sum(col("ntok")).as("tk"))
    val ft = docs
      .select(col("source"), col("doc_id"),
        explode(TextFns.tokens(col("text"))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("source"), col("term")).agg(min(col("doc_id")).as("fd"))
    val fb = ft.join(rng, "source")
      .select(col("source"),
        least(lit(9L), expr("((fd - mn) * 10) div (mx - mn + 1)")).as("b"))
      .groupBy(col("source"), col("b")).agg(count(lit(1)).as("nv"))
    val w = Window.partitionBy(col("source")).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val pts = tb.join(fb, Seq("source", "b"), "left")
      .select(col("source"),
        sum(col("tk")).over(w).as("cn"),
        sum(coalesce(col("nv"), lit(0L))).over(w).as("cv"))
      .filter(col("cn") > 0 && col("cv") > 0)
    def grid(e: org.apache.spark.sql.Column) = round(e * 1e9).cast("long")
    val lnN = log(col("cn")); val lnV = log(col("cv"))
    val q = pts.groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sum(grid(lnN)).as("sx"), sum(grid(lnV)).as("sy"),
        sum(grid(lnN * lnV)).as("sxy"),
        sum(grid(lnN * lnN)).as("sxx"),
        sum(grid(lnV * lnV)).as("syy"))
    val sxd = col("sx") / 1e9; val syd = col("sy") / 1e9
    val cov = col("n") * (col("sxy") / 1e9) - sxd * syd
    val varX = col("n") * (col("sxx") / 1e9) - sxd * sxd
    val varY = col("n") * (col("syy") / 1e9) - syd * syd
    q.select(col("source"), col("n").as("n_points"),
        Q.noNegZero(round(cov / varX, 6)).as("heaps_beta"),
        Q.noNegZero(round(cov * cov / (varX * varY), 6)).as("r2"))
      .orderBy(col("source"))
  }

  /** Token-budget WATER-FILLING across sources — the mixing-plan
    * allocator (DoReMi/Pile-style recipes end here): given a total
    * training budget B (60% of corpus tokens) and uniform per-source
    * target weights, allocate alloc_s = min(avail_s, λ) with λ chosen
    * so Σ alloc = B — small sources saturate (epoch cap 1.0, no
    * oversampling), the rest share the remainder equally. The
    * classical sort-based closed form runs relationally: sources sort
    * ascending by availability (a ≤|sources|-row window — all the
    * fact-scale work is one per-source token count), each row's
    * tentative λ is (B − cum_below)/remaining in EXACT integer
    * arithmetic (λ* is materialized as numerator/denominator and the
    * final allocation is an integer `div` — no float ever divides the
    * budget, so the two engines cannot round a boundary differently),
    * and saturation is prefix-monotone along the sort, so per-row
    * flags compose into the global λ* without iteration. */
  val q195TokenWaterfill = Q(
    "q195_token_waterfill",
    """WITH toks AS (
      |  SELECT source
      |  FROM documents, unnest(string_split_regex(lower(text), '\s+')) AS u(s)
      |  WHERE s <> ''),
      |a AS (SELECT source, CAST(count(*) AS BIGINT) AS avail FROM toks GROUP BY 1),
      |tot AS (
      |  SELECT CAST(sum(avail) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS ns
      |  FROM a),
      |r AS (
      |  SELECT source, avail,
      |    CAST(row_number() OVER (ORDER BY avail, source) AS BIGINT) AS rk,
      |    CAST(coalesce(sum(avail) OVER (ORDER BY avail, source
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cumb
      |  FROM a),
      |f AS (
      |  SELECT r.source, r.avail, r.rk, r.cumb, (t.t * 3) // 5 AS b, t.ns,
      |    CASE WHEN r.avail * (t.ns - r.rk + 1) <= (t.t * 3) // 5 - r.cumb
      |      THEN 1 ELSE 0 END AS saturated
      |  FROM r CROSS JOIN tot t),
      |g AS (
      |  SELECT source, avail, b, saturated,
      |    CAST(sum(CASE WHEN saturated = 1 THEN avail ELSE 0 END) OVER () AS BIGINT)
      |      AS sat_a,
      |    CAST(sum(1 - saturated) OVER () AS BIGINT) AS unsat_n
      |  FROM f),
      |h AS (
      |  SELECT source, avail, saturated,
      |    CAST(CASE WHEN saturated = 1 THEN avail
      |      ELSE (b - sat_a) // unsat_n END AS BIGINT) AS alloc
      |  FROM g)
      |SELECT source, avail, alloc,
      |  round(CAST(alloc AS DOUBLE) / avail, 4) AS epochs,
      |  CAST(saturated AS INT) AS saturated
      |FROM h ORDER BY source""".stripMargin) { (spark, dir) =>
    val a = Tables.documents(spark, dir)
      .select(col("source"), explode(TextFns.tokens(col("text"))).as("s"))
      .filter(col("s") =!= "")
      .groupBy(col("source")).agg(count(lit(1)).as("avail"))
    graft.operators.Mixing.waterfill(a, budgetNum = 3, budgetDen = 5)
      .orderBy(col("source"))
  }

  /** Per-source cap for q196's pairwise stage: the JSD matrix is
    * |sources|²×64 — dimension-sized at 20 sources, quadratic if a
    * corpus has 10⁴ domains-as-sources. The house cap discipline
    * (the q80/CoBasketCap playbook): keep the top-[[JsdSourceCap]]
    * sources by token mass — the ones any mixing recipe actually
    * weighs — and fold the long tail into ONE `(other)` pseudo-source
    * whose bucket distribution is the tail's mixture, so tail mass
    * still appears in the matrix at coarse grain instead of silently
    * vanishing. The fold count is observable as
    * `graft.jsd.n_sources_bucketed`; ranking is deterministic
    * (mass DESC, source ASC) in both dialects. 24 > the 20-source
    * test corpus, so the registered result set is unchanged —
    * the cap is exercised by JsdCapSpec on a crafted wide corpus and
    * by `tools.Probe --scale`, whose replicas multiply the source count. */
  private[queries] val JsdSourceCap = 24

  /** The q196 implementation over any (source, text) frame — see
    * [[q196JsDivergence]] for semantics, [[JsdSourceCap]] for the cap. */
  private[queries] def jsDivergencePairs(docs: org.apache.spark.sql.DataFrame,
      topK: Int): org.apache.spark.sql.DataFrame = {
    import graft.operators.Dedup
    import org.apache.spark.sql.expressions.Window
    val feats = docs
      .select(col("source"), explode(TextFns.tokens(col("text"))).as("s"))
      .filter(col("s") =!= "")
      .select(col("source"), (Dedup.portableHash60(col("s")) % 64).as("b"))
    // ONE consumer of the (source, bucket) aggregate: the 64-entry
    // count map and the total ride the same per-source collapse, and
    // the full smoothed 64-vector explodes back out IN-ROW — a
    // separate groupBy(source) totals branch re-planned the whole
    // tokenize scan per consumer (the Ecdf-totals lesson; measured 2
    // documents scans in the final plan before this shape). The cap
    // relabel is one more link of the SAME linear chain (rank over
    // the |sources|-row collapse, explode the kept maps, re-collapse)
    // — global window over a dimension-grain relation, no extra scan.
    val perSrc = feats.groupBy(col("source"), col("b")).agg(count(lit(1)).as("c"))
    val vec = perSrc.groupBy(col("source"))
      .agg(map_from_arrays(collect_list(col("b")), collect_list(col("c"))).as("m"),
        sum(col("c")).as("st"))
    val byMass = Window.orderBy(col("st").desc, col("source"))
    val ranked = vec
      .withColumn("label",
        // a REAL source named like the fold sentinel would silently
        // merge with the folded tail at the re-collapse below (wrong
        // JSD rows, undercounted fold metric) — refuse it loudly; the
        // relation is dimension-grain so the check is |sources| cheap
        when(col("source") === lit("(other)"), raise_error(lit(
          "graft.q196: input source '(other)' collides with the " +
            "tail-fold sentinel; rename the source upstream")))
          .when(row_number().over(byMass) <= topK, col("source"))
          .otherwise(lit("(other)")))
      .observe("graft.jsd",
        sum(when(col("label") === "(other)", 1L).otherwise(0L))
          .as("n_sources_bucketed"))
    val vec2 = ranked
      .select(col("label"), explode(col("m")).as(Seq("b", "c")))
      .groupBy(col("label"), col("b")).agg(sum(col("c")).as("c"))
      .groupBy(col("label"))
      .agg(map_from_arrays(collect_list(col("b")), collect_list(col("c"))).as("m"),
        sum(col("c")).as("st"))
    val grid = vec2
      .select(col("label").as("source"), col("m"), col("st"),
        explode(sequence(lit(0L), lit(63L))).as("b"))
      .select(col("source"), col("b"),
        ((coalesce(element_at(col("m"), col("b")), lit(0L)) + 1.0)
          / (col("st") + 64.0)).as("p"))
    val pairs = grid.as("x").join(
        grid.select(col("source").as("source_b"), col("b"),
          col("p").as("q")).as("y"),
        col("x.b") === col("y.b") && col("x.source") < col("y.source_b"))
      .select(col("x.source").as("source_a"), col("source_b"),
        col("p"), col("q"))
    val term = col("p") * log(lit(2) * col("p") / (col("p") + col("q"))) +
      col("q") * log(lit(2) * col("q") / (col("p") + col("q")))
    pairs.groupBy(col("source_a"), col("source_b"))
      .agg(sum(round(term * 1e9).cast("long")).as("tsum"))
      .select(col("source_a"), col("source_b"),
        Q.noNegZero(round(col("tsum") / 2e9, 6)).as("jsd"),
        Q.noNegZero(round(col("tsum") / 2e9 / math.log(2.0), 6)).as("jsd_norm"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Pairwise Jensen–Shannon divergence between sources over the
    * hashed-token feature buckets — the SYMMETRIC, bounded (≤ ln 2)
    * companion to q121's source-vs-corpus KL: the full source×source
    * dissimilarity matrix a mixing recipe clusters over ("which
    * sources are near-duplicates of each other at the distribution
    * level"). Fact-scale work is the one (source, bucket) count
    * shuffle q121 already pays; the pair join runs at ≤
    * ([[JsdSourceCap]]+1)²×64 grain — dimension-sized by CONSTRUCTION
    * since r11, not by corpus accident (tail sources fold into one
    * `(other)` mixture row; fold count observable). Each bucket's two
    * smoothed probabilities produce one JSD term quantized to the
    * 1e-9 grid before the per-pair BIGINT sum (the q184-q193 float
    * discipline; q121's 4-dp double sum predates it). */
  val q196JsDivergence = Q(
    "q196_js_divergence",
    s"""WITH feats AS (
      |  SELECT source, ('0x' || substr(md5(s), 1, 15))::BIGINT % 64 AS b
      |  FROM documents, unnest(string_split_regex(lower(text), '\\s+')) AS u(s)
      |  WHERE s <> ''),
      |per_src AS (SELECT source, b, CAST(count(*) AS BIGINT) AS c FROM feats GROUP BY 1, 2),
      |rk AS (
      |  SELECT source, row_number() OVER (ORDER BY sum(c) DESC, source) AS rnk
      |  FROM per_src GROUP BY source),
      |ps2 AS (
      |  SELECT CASE WHEN p.source = '(other)'
      |                THEN error('graft.q196: input source ''(other)'' collides with the tail-fold sentinel; rename the source upstream')
      |              WHEN r.rnk <= $JsdSourceCap THEN p.source
      |              ELSE '(other)' END AS source,
      |    p.b, CAST(sum(p.c) AS BIGINT) AS c
      |  FROM per_src p JOIN rk r ON r.source = p.source GROUP BY 1, 2),
      |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS st FROM ps2 GROUP BY 1),
      |grid AS (
      |  SELECT t.source, t.st, g.b, coalesce(s.c, 0) AS c
      |  FROM tot t
      |  CROSS JOIN (SELECT unnest(range(0, 64)) AS b) g
      |  LEFT JOIN ps2 s ON t.source = s.source AND g.b = s.b),
      |pairs AS (
      |  SELECT x.source AS source_a, y.source AS source_b,
      |    (x.c + 1.0) / (x.st + 64.0) AS p, (y.c + 1.0) / (y.st + 64.0) AS q
      |  FROM grid x JOIN grid y ON x.b = y.b AND x.source < y.source)
      |SELECT source_a, source_b,
      |  round(CAST(sum(CAST(round((p * ln(2 * p / (p + q))
      |      + q * ln(2 * q / (p + q))) * 1e9) AS BIGINT)) AS BIGINT)
      |    / 2e9, 6) + 0.0 AS jsd,
      |  round(CAST(sum(CAST(round((p * ln(2 * p / (p + q))
      |      + q * ln(2 * q / (p + q))) * 1e9) AS BIGINT)) AS BIGINT)
      |    / 2e9 / ln(2), 6) + 0.0 AS jsd_norm
      |FROM pairs GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
    jsDivergencePairs(Tables.documents(spark, dir), JsdSourceCap)
  }

  /** Training-shard BALANCE audit — the acceptance check after q138's
    * shard assignment: hash sharding promises every shard is an
    * unbiased sample, so each shard's quality-band mix must match the
    * corpus mix; a skewed shard poisons whichever epoch consumes it.
    * Bands are fixed n_chars cuts (short <500, medium <2000, long),
    * shards are q138's portable-hash mod 8, and each shard's χ²
    * against the global band distribution is computed from INTEGER
    * sufficient statistics: X² = Σ_b (obs·N − n_s·N_b)² / (N·n_s·N_b)
    * with the numerator in DECIMAL(38,0) (obs·N is doc-count², fine
    * to ~10¹⁹ docs) and one double division per band term at the end.
    * Everything after the doc-grain (shard, band) count is a
    * shards×bands-grain relation. */
  val q201ShardBalance = Q(
    "q201_shard_balance",
    """WITH d AS (
      |  SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 8
      |      AS shard,
      |    CASE WHEN n_chars < 500 THEN 'short'
      |         WHEN n_chars < 2000 THEN 'medium' ELSE 'long' END AS band
      |  FROM documents),
      |sb AS (
      |  SELECT shard, band, CAST(count(*) AS BIGINT) AS obs
      |  FROM d GROUP BY 1, 2),
      |bt AS (SELECT band, CAST(sum(obs) AS BIGINT) AS nb FROM sb GROUP BY 1),
      |st AS (SELECT shard, CAST(sum(obs) AS BIGINT) AS ns FROM sb GROUP BY 1),
      |tt AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM sb),
      |terms AS (
      |  SELECT st.shard, st.ns, bt.band, bt.nb, tt.n, coalesce(sb.obs, 0) AS obs
      |  FROM st CROSS JOIN bt CROSS JOIN tt
      |  LEFT JOIN sb ON sb.shard = st.shard AND sb.band = bt.band)
      |SELECT shard, CAST(any_value(ns) AS BIGINT) AS n_docs,
      |  round(sum(CAST((CAST(obs AS HUGEINT) * n - CAST(ns AS HUGEINT) * nb)
      |      * (CAST(obs AS HUGEINT) * n - CAST(ns AS HUGEINT) * nb) AS DOUBLE)
      |    / (CAST(n AS DOUBLE) * ns * nb)), 6) AS chi2
      |FROM terms GROUP BY shard ORDER BY shard""".stripMargin) { (spark, dir) =>
    import graft.operators.Dedup
    val d = Tables.documents(spark, dir)
      .select(
        (Dedup.portableHash60(col("doc_id").cast("string")) % 8).as("shard"),
        when(col("n_chars") < 500, "short")
          .when(col("n_chars") < 2000, "medium").otherwise("long").as("band"))
    val sb = d.groupBy(col("shard"), col("band")).agg(count(lit(1)).as("obs"))
    // ONE consumer of the doc-grain aggregate: all ≤ shards×bands cells
    // collapse into a single collected row, and the marginals, total,
    // and full grid (including zero cells) expand back out IN-ROW —
    // the shard/band/total groupBy branches each re-planned the whole
    // documents scan (the Ecdf-totals lesson). The HOFs run
    // interpreted, on ONE row of ≤ 24 structs — not a hot path.
    val one = sb.agg(collect_list(
      struct(col("shard"), col("band"), col("obs"))).as("cs"))
    def cellSum(pred: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
        : org.apache.spark.sql.Column =
      aggregate(filter(col("cs"), pred), lit(0L),
        (a, c) => a + c.getField("obs"))
    val terms = one
      .select(col("cs"), explode(array_distinct(
        transform(col("cs"), c => c.getField("shard")))).as("shard"))
      .select(col("cs"), col("shard"), explode(array_distinct(
        transform(col("cs"), c => c.getField("band")))).as("band"))
      .select(col("shard"), col("band"),
        cellSum(c => c.getField("shard") === col("shard")).as("ns"),
        cellSum(c => c.getField("band") === col("band")).as("nb"),
        cellSum(_ => lit(true)).as("n"),
        cellSum(c => c.getField("shard") === col("shard")
          && c.getField("band") === col("band")).as("obs"))
    val dec = "decimal(38,0)"
    val dev = col("obs").cast(dec) * col("n") - col("ns").cast(dec) * col("nb")
    terms.groupBy(col("shard"))
      .agg(first(col("ns")).as("n_docs"),
        round(sum((dev * dev).cast("double")
          / (col("n").cast("double") * col("ns") * col("nb"))), 6).as("chi2"))
      .select(col("shard"), col("n_docs"), col("chi2"))
      .orderBy(col("shard"))
  }

  /** Brier-score Murphy decomposition of the quality classifier — the
    * third leg of the eval family (q153 ranks with AUC, q155 tables
    * calibration, this SCORES the probabilistic forecast and says WHY
    * it's good or bad): Brier = REL − RES + UNC + WBV − 2·WCV over
    * the q155 score bins, where reliability is the calibration gap,
    * resolution the bins' separation of the base rate, uncertainty
    * the base rate's own variance, and the within-bin forecast
    * VARIANCE and forecast-outcome COVARIANCE close the identity
    * exactly (the textbook three-term form silently assumes constant
    * forecasts per bin — both correction terms vanish there, and
    * StatsSpec pins the full identity). Forecast = sigmoid(score),
    * quantized to the 1e-9 grid per doc (f and f²) before ANY sum, so
    * every aggregate is an exact BIGINT and the identity is checkable
    * to rounding. Everything after the doc-grain bin assignment is a
    * 16-row relation. */
  val q202BrierDecomposition = Q(
    "q202_brier_decomposition",
    s"""WITH $qualityLabSql,
       |bounds AS (SELECT min(score) AS lo, max(score) AS hi FROM lab),
       |b AS (
       |  SELECT least(greatest(
       |      CAST(floor((score - lo) / ((hi - lo) / 16)) AS INT), 0), 15) AS bin,
       |    CAST(round(1e9 / (1 + exp(-score))) AS BIGINT) AS fq,
       |    CASE WHEN pos THEN 1 ELSE 0 END AS o
       |  FROM lab, bounds),
       |g AS (
       |  SELECT bin, CAST(count(*) AS BIGINT) AS nb,
       |    CAST(sum(o) AS BIGINT) AS pb,
       |    CAST(sum(fq) AS BIGINT) AS sf,
       |    sum(CAST(fq AS HUGEINT) * fq) AS sf2,
       |    CAST(sum(fq * o) AS BIGINT) AS sfo
       |  FROM b GROUP BY 1),
       |t AS (
       |  SELECT CAST(sum(nb) AS BIGINT) AS n, CAST(sum(pb) AS BIGINT) AS np,
       |    CAST(sum(sf) AS BIGINT) AS sft, sum(sf2) AS sf2t,
       |    CAST(sum(sfo) AS BIGINT) AS sfot
       |  FROM g),
       |parts AS (
       |  SELECT t.n, t.np,
       |    sum(g.nb * (g.sf / 1e9 / g.nb - CAST(g.pb AS DOUBLE) / g.nb)
       |             * (g.sf / 1e9 / g.nb - CAST(g.pb AS DOUBLE) / g.nb)) AS rel_n,
       |    sum(g.nb * (CAST(g.pb AS DOUBLE) / g.nb - CAST(t.np AS DOUBLE) / t.n)
       |             * (CAST(g.pb AS DOUBLE) / g.nb - CAST(t.np AS DOUBLE) / t.n)) AS res_n,
       |    sum(CAST(g.sf2 AS DOUBLE) / 1e18 - (g.sf / 1e9) * (g.sf / 1e9) / g.nb) AS wbv_n,
       |    sum(g.sfo / 1e9 - (g.sf / 1e9) * (CAST(g.pb AS DOUBLE) / g.nb)) AS wcv_n
       |  FROM g CROSS JOIN t GROUP BY t.n, t.np)
       |SELECT n AS n_docs, round(CAST(np AS DOUBLE) / n, 6) AS base_rate,
       |  round((SELECT CAST(sf2t AS DOUBLE) / 1e18 - 2 * sfot / 1e9 + np FROM t) / n, 6)
       |    AS brier,
       |  round(rel_n / n, 6) AS reliability,
       |  round(res_n / n, 6) AS resolution,
       |  round(CAST(np AS DOUBLE) / n * (1 - CAST(np AS DOUBLE) / n), 6) AS uncertainty,
       |  round(wbv_n / n, 6) AS within_bin_var,
       |  round(wcv_n / n, 6) + 0.0 AS within_bin_cov
       |FROM parts""".stripMargin) { (spark, dir) =>
    // r15 perf: one cut so the bounds pass and the binning pass share a
    // single evaluation of the per-token score (the q155 fix)
    val lab = qualityLab(spark, dir).localCheckpoint()
    val bounds = lab.agg(min(col("score")).as("lo"), max(col("score")).as("hi"))
    val b = lab.crossJoin(broadcast(bounds))
      .select(least(greatest(floor((col("score") - col("lo")) /
          ((col("hi") - col("lo")) / 16)).cast("int"), lit(0)), lit(15)).as("bin"),
        round(lit(1e9) / (lit(1) + exp(-col("score")))).cast("long").as("fq"),
        when(col("pos"), 1L).otherwise(0L).as("o"))
    // fq is 1e9-gridded, so plain Long sums of fq / fq*o wrap silently
    // past ~9.2e9 docs while the oracle's BIGINT sums land in HUGEINT —
    // decimal(38,0) gives all three running sums the same ~1e29-doc
    // headroom as sf2 (ADVICE r9)
    val g = b.groupBy(col("bin"))
      .agg(count(lit(1)).as("nb"), sum(col("o")).as("pb"),
        sum(col("fq").cast("decimal(38,0)")).as("sf"),
        sum(col("fq").cast("decimal(38,0)") * col("fq")).as("sf2"),
        sum((col("fq") * col("o")).cast("decimal(38,0)")).as("sfo"))
    val t = g.agg(sum(col("nb")).as("n"), sum(col("pb")).as("np"),
      sum(col("sf")).as("sft"), sum(col("sf2")).as("sf2t"),
      sum(col("sfo")).as("sfot"))
    val fb = col("sf") / 1e9 / col("nb")
    val ob = col("pb").cast("double") / col("nb")
    val obar = col("np").cast("double") / col("n")
    g.crossJoin(broadcast(t)) // 1-row bounded
      .groupBy(col("n"), col("np"), col("sf2t"), col("sfot"))
      .agg(
        sum(col("nb") * (fb - ob) * (fb - ob)).as("rel_n"),
        sum(col("nb") * (ob - obar) * (ob - obar)).as("res_n"),
        sum(col("sf2").cast("double") / 1e18
          - (col("sf") / 1e9) * (col("sf") / 1e9) / col("nb")).as("wbv_n"),
        sum(col("sfo") / 1e9
          - (col("sf") / 1e9) * (col("pb").cast("double") / col("nb"))).as("wcv_n"))
      .select(col("n").as("n_docs"),
        round(obar, 6).as("base_rate"),
        round((col("sf2t").cast("double") / 1e18
          - lit(2) * col("sfot") / 1e9 + col("np")) / col("n"), 6).as("brier"),
        round(col("rel_n") / col("n"), 6).as("reliability"),
        round(col("res_n") / col("n"), 6).as("resolution"),
        round(obar * (lit(1) - obar), 6).as("uncertainty"),
        round(col("wbv_n") / col("n"), 6).as("within_bin_var"),
        Q.noNegZero(round(col("wcv_n") / col("n"), 6)).as("within_bin_cov"))
  }

  /** Split-conformal calibration of the quality classifier — the
    * fourth leg of the eval family (q153 AUC ranks, q155 tables
    * calibration, q202 scores the forecast; this one produces the
    * DEPLOYABLE artifact): per source, hold out a hash-split half as
    * a calibration set, take the k-th smallest score with
    * k = ⌈(n+1)·0.9⌉ as the keep-threshold, and report the odd-half
    * EMPIRICAL coverage — split conformal's finite-sample guarantee
    * (≥ 90% of exchangeable future docs score ≤ threshold) made
    * checkable per source. The k-th order statistic is NOT a sorted
    * collect: scores quantize to the 1e9 grid (the q155/q202 float
    * discipline) and the rank selection is a min-over-cumsum on
    * `Ecdf.groupedCumsum`. ONE documents scan total: BOTH halves'
    * counts ride the same value-grain cumsum (cal rows interleave 0s
    * into the eval column and vice versa — cumsums are unaffected),
    * so the eval coverage count is simply `cum_cEval` AT the
    * threshold row and no second scan or threshold join exists (the
    * first cut of this query scored each half in its own branch —
    * 2× the 100 TB read for the same answer). Sources with
    * n_cal < 9 have no finite 90% threshold (k > n) and emit NULL
    * threshold / NULL coverage in both dialects. The threshold is a
    * rounded SIGNED score → noNegZero finisher. */
  val q204ConformalThreshold = Q(
    "q204_conformal_threshold",
    s"""WITH $qualityLabSql,
       |q AS (
       |  SELECT source,
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 2 AS h,
       |    CAST(round(score * 1e9) AS BIGINT) AS sq
       |  FROM lab),
       |d AS (
       |  SELECT source, sq,
       |    CAST(sum(CASE WHEN h = 0 THEN 1 ELSE 0 END) AS BIGINT) AS cc,
       |    CAST(sum(CASE WHEN h = 1 THEN 1 ELSE 0 END) AS BIGINT) AS ce
       |  FROM q GROUP BY 1, 2),
       |c AS (
       |  SELECT source, sq,
       |    sum(cc) OVER w AS cum_cc, sum(ce) OVER w AS cum_ce,
       |    sum(cc) OVER (PARTITION BY source) AS nc,
       |    sum(ce) OVER (PARTITION BY source) AS ne
       |  FROM d
       |  WINDOW w AS (PARTITION BY source ORDER BY sq))
       |SELECT source, CAST(min(nc) AS BIGINT) AS n_cal,
       |  round(CAST(arg_min(sq, sq)
       |      FILTER (WHERE cum_cc >= (9 * (nc + 1) + 9) // 10) AS BIGINT)
       |    / 1e9, 6) + 0.0 AS threshold,
       |  CAST(min(ne) AS BIGINT) AS n_eval,
       |  CASE WHEN min(ne) > 0 THEN
       |    round(CAST(arg_min(cum_ce, sq)
       |        FILTER (WHERE cum_cc >= (9 * (nc + 1) + 9) // 10) AS BIGINT)
       |      / CAST(min(ne) AS DOUBLE), 4) END AS coverage
       |FROM c GROUP BY source
       |ORDER BY source""".stripMargin) { (spark, dir) =>
    // split on the portable md5 hash, NOT doc_id parity: the corpus
    // assigns sources round-robin by doc_id, so parity ≡ source parity
    // and a parity split puts every source entirely in one half
    val lab = qualityLab(spark, dir)
      .select(col("source"),
        (graft.operators.Dedup.portableHash60(col("doc_id").cast("string")) % 2)
          .as("h"),
        round(col("score") * 1e9).cast("long").as("sq"))
    val d = lab
      .groupBy(col("source"), col("sq"))
      .agg(sum(when(col("h") === 0, 1L).otherwise(0L)).as("cc"),
        sum(when(col("h") === 1, 1L).otherwise(0L)).as("ce"))
    // min over a (sq, cum_ce) struct = the first qualifying row's pair:
    // sq is unique per source at value grain, so the struct order is
    // total and both fields come from the SAME row
    val qualifying = when(
      col("cum_cc") >= expr("(9 * (tot_cc + 1) + 9) div 10"),
      struct(col("sq"), col("cum_ce")))
    graft.operators.Ecdf
      .groupedCumsum(d, Seq("source"), "sq", Seq("cc", "ce"))
      .groupBy(col("source"))
      .agg(min(qualifying).as("at_thr"),
        min(col("tot_cc")).as("n_cal"),
        min(col("tot_ce")).as("n_eval"))
      .select(col("source"), col("n_cal"),
        Q.noNegZero(round(col("at_thr.sq") / 1e9, 6)).as("threshold"),
        col("n_eval"),
        // the threshold guard's mirror on the coverage side: a source
        // whose docs all hashed into the calibration half (n_eval = 0)
        // has no coverage to report — NULL in both dialects, never the
        // 0/0 NaN a bare division would give (house dialect-guard
        // convention; DuckDB's double 0/0 is version-dependent)
        when(col("n_eval") > 0,
          round(col("at_thr.cum_ce") / col("n_eval").cast("double"), 4))
          .as("coverage"))
      .orderBy(col("source"))
  }

  /** Curriculum ordering for training: interleave sources round-robin
    * by within-source quality rank, and report where each source's
    * docs land in the global schedule (SURVEY §2.11 north-star: the
    * data-ORDERING leg of the training-prep stack — q113/q119/q195
    * decide how much of each source to take, this decides WHEN each
    * doc is seen; a source whose docs cluster late trains on stale
    * gradients).
    *
    * Quality = q25's stopword ratio (most natural-language-like first —
    * easy-to-hard curriculum), ranked within source with doc_id
    * tiebreaks. The global position of source s's rank-r doc is
    * `Σ_{r'<r} |sources with ≥ r' docs| + |{s' ≤ s present at rank r}|`
    * — algebraically `row_number() OVER (ORDER BY r, source)` (the
    * oracle's formulation), but computed WITHOUT the global sort that
    * window plans (Exchange SinglePartition — one task holding the
    * corpus): the first term is [[graft.operators.Ecdf.groupedCumsum]]
    * over the RANK-GRAIN count relation (≤ max-docs-per-source rows),
    * the second a window partitioned BY RANK. Two value-grain
    * exchanges, zero global sorts — the house cumsum shape.
    *
    * Exactness: the quality score is one division of exact ints
    * (identical doubles both engines); everything after is BIGINT
    * ranks/counts; mean position is one final division of exact sums. */
  val q218CurriculumOrder = Q(
    "q218_curriculum_order",
    """WITH sc AS (
      |  SELECT doc_id, source,
      |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
      |      t -> list_contains(['the','a','of','and','to','in','is','on','for'], t)))
      |      AS DOUBLE)
      |      / greatest(len(string_split_regex(lower(text), '\s+')), 1) AS score
      |  FROM documents),
      |rk AS (
      |  SELECT source,
      |    row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id) AS r
      |  FROM sc),
      |pos AS (
      |  SELECT source, CAST(row_number() OVER (ORDER BY r, source) AS BIGINT) AS p
      |  FROM rk)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(min(p) AS BIGINT) AS first_pos,
      |  CAST(max(p) AS BIGINT) AS last_pos,
      |  round(CAST(sum(p) AS DOUBLE) / count(*), 6) AS mean_pos
      |FROM pos
      |GROUP BY source
      |ORDER BY source""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), TextFns.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("source"),
        (TextFns.markerHits(col("toks"), Stopwords).cast("double")
          / greatest(size(col("toks")), lit(1))).as("score"))
    val ranked = docs
      .withColumn("r", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("score").desc, col("doc_id"))))
      .select(col("source"), col("r"))
    // rank-grain counts → exclusive cumsum = docs scheduled before
    // rank r's round begins (bounded at max docs-per-source rows)
    val base = graft.operators.Ecdf
      .groupedCumsum(ranked.groupBy(col("r")).agg(count(lit(1)).as("cnt")),
        Seq.empty, "r", Seq("cnt"))
      .select(col("r"), (col("cum_cnt") - col("cnt")).as("base"))
    val pos = ranked
      .withColumn("ord", row_number().over(
        Window.partitionBy(col("r")).orderBy(col("source"))))
      .join(base, Seq("r"))
      .select(col("source"), (col("base") + col("ord")).as("p"))
    pos.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), min(col("p")).as("first_pos"),
        max(col("p")).as("last_pos"),
        round(sum(col("p")).cast("double") / count(lit(1)), 6).as("mean_pos"))
      .orderBy(col("source"))
  }

  /** Isotonic score calibration — the monotone-regression completion of
    * the calibration family (q155 reports the RAW per-bin positive
    * rate; q202 decomposes the Brier score; this fits the best
    * MONOTONE rate curve, the standard production calibrator for
    * classifier scores). Same 16 fixed-width bins over the shared
    * quality-score/label fixture as q155, so the two curves are
    * directly comparable.
    *
    * No iterative PAVA anywhere: the fit uses the closed-form minimax
    * characterization `iso(i) = max_{j≤i} min_{k≥i} mean(pos[j..k])` —
    * over BIN grain that is a ≤136-row triangular self-join plus two
    * windows (suffix-min per start, prefix-max per end), identical in
    * both dialects. StatsSpec pins this minimax ≡ an actual
    * pool-adjacent-violators run, so the formulation itself is
    * regression-tested.
    *
    * Scale: the corpus is touched once (score + bin assignment, the
    * q155 shape); everything after runs on the 16-row bin relation —
    * its global windows are the bounded-relation class (q199's BH
    * precedent). Exactness: segment means are ratios of exact BIGINT
    * cumsum differences — identical doubles both engines — and
    * min/max over identical doubles cannot diverge; one final 6-dp
    * round. */
  val q225IsotonicCalibration = Q(
    "q225_isotonic_calibration",
    s"""WITH $qualityLabSql,
       |bounds AS (SELECT min(score) AS lo, max(score) AS hi FROM lab),
       |b AS (
       |  SELECT least(greatest(CAST(floor((score - lo) / ((hi - lo) / 16))
       |      AS INT), 0), 15) AS bin, pos
       |  FROM lab, bounds),
       |bins AS (
       |  SELECT bin, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS p
       |  FROM b GROUP BY bin),
       |cum AS (
       |  SELECT bin, n, p,
       |    sum(n) OVER (ORDER BY bin) AS cn,
       |    sum(p) OVER (ORDER BY bin) AS cp
       |  FROM bins),
       |seg AS (
       |  SELECT j.bin AS j, k.bin AS k,
       |    CAST(k.cp - (j.cp - j.p) AS DOUBLE)
       |      / CAST(k.cn - (j.cn - j.n) AS DOUBLE) AS m
       |  FROM cum j JOIN cum k ON j.bin <= k.bin),
       |sufmin AS (
       |  SELECT j, k, min(m) OVER (PARTITION BY j ORDER BY k DESC) AS sm
       |  FROM seg),
       |iso AS (
       |  SELECT k AS bin, max(sm) OVER (PARTITION BY k ORDER BY j) AS iso_m, j
       |  FROM sufmin)
       |SELECT b.bin, b.n AS n_docs, b.p AS n_pos,
       |  round(CAST(b.p AS DOUBLE) / b.n, 6) AS raw_rate,
       |  round(i.iso_m, 6) AS iso_rate
       |FROM bins b JOIN iso i ON i.bin = b.bin AND i.j = b.bin
       |ORDER BY b.bin""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    // r15 perf: one cut so the bounds pass and the binning pass share a
    // single evaluation of the per-token score (the q155 fix)
    val lab = qualityLab(spark, dir).localCheckpoint()
    val bounds = lab.agg(min(col("score")).as("lo"), max(col("score")).as("hi"))
    val bins = lab.crossJoin(broadcast(bounds))
      .select(least(greatest(floor((col("score") - col("lo")) /
          ((col("hi") - col("lo")) / 16)).cast("int"), lit(0)), lit(15)).as("bin"),
        col("pos"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("pos"), 1L).otherwise(0L)).as("p"))
    val wBin = Window.orderBy(col("bin"))
    val cum = bins
      .withColumn("cn", sum(col("n")).over(wBin))
      .withColumn("cp", sum(col("p")).over(wBin))
    val seg = cum.as("j").join(cum.as("k"), col("j.bin") <= col("k.bin"))
      .select(col("j.bin").as("j"), col("k.bin").as("k"),
        ((col("k.cp") - (col("j.cp") - col("j.p"))).cast("double")
          / (col("k.cn") - (col("j.cn") - col("j.n"))).cast("double")).as("m"))
    val sufmin = seg.withColumn("sm",
      min(col("m")).over(Window.partitionBy(col("j")).orderBy(col("k").desc)))
    val iso = sufmin.withColumn("iso_m",
        max(col("sm")).over(Window.partitionBy(col("k")).orderBy(col("j"))))
      .filter(col("j") === col("k"))
      .select(col("k").as("bin"), col("iso_m"))
    bins.join(iso, Seq("bin"))
      .select(col("bin"), col("n").as("n_docs"), col("p").as("n_pos"),
        round(col("p").cast("double") / col("n"), 6).as("raw_rate"),
        round(col("iso_m"), 6).as("iso_rate"))
      .orderBy(col("bin"))
  }

  /** Planted near-duplicate recall for the MinHash LSH text screen
    * (r12 verdict #6, the q226 harness applied to q29's operator): each
    * panel document (every 22nd id — inside q29's 1-in-2 sampled
    * universe) gets six planted variants built by DROPPING every d-th
    * token, d ∈ {3, 4, 6, 8, 9, 12} — graded shingle damage whose true
    * 3-gram Jaccard straddles the screen's 0.5 estimated-Jaccard
    * threshold, with the d=8/9 grades (r15) filling the mid-cliff the
    * four-grade ladder jumped over. The IDENTICAL screen
    * (Dedup.minhashLshPairs, 16×4 portable signatures) runs over
    * originals + plants; the report is per-band detection recall plus
    * the exact mean TRUE Jaccard — where the text screen's cliff sits.
    * Precision is structurally governed by the estimator only (the
    * 64-hash estimate IS the reported score, oracle-mirrored), so as
    * with q226 the measured quantity is candidate+estimator RECALL.
    *
    * The panel is restricted to plants whose shingle sets are nonempty
    * on BOTH sides (a sub-3-token variant has no shingle
    * representation and cannot be screened by ANY shingle method —
    * excluded from the denominator, same both engines). Scale: plant
    * stage is panel-bounded; the screen inherits q29's banded shape. */
  val q227PlantedTextDupRecall: Q = {
    // r15 (verdict #4): grades 4/5 (drop periods 8 and 9) map the
    // mid-cliff the r14 table jumped over — the detection S-curve
    // between the d=6 and d=12 grades' true-Jaccard levels, so the
    // text screen's cliff is graded as finely as the embedding
    // screen's ε ladder
    val bandsSpec = Seq((0, 3), (1, 4), (2, 6), (3, 12), (4, 8), (5, 9))
    val plvSelects = bandsSpec.map { case (b, d) =>
      s"""  SELECT mo.off + doc_id * 6 + $b AS doc_id, doc_id AS base_id,
         |    $b AS band, $d AS d,
         |    list_transform(list_filter(range(1, len(t) + 1), i -> i % $d != 0),
         |      i -> t[i]) AS t
         |  FROM bt CROSS JOIN mo""".stripMargin
    }.mkString("\n  UNION ALL\n")
    Q("q227_planted_text_dup_recall",
      s"""WITH bt AS (
         |  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t
         |  FROM documents WHERE doc_id % 22 = 0),
         |mo AS (SELECT max(doc_id) + 1 AS off FROM documents),
         |od AS (
         |  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t
         |  FROM documents WHERE doc_id % 2 = 0),
         |plv AS (
         |$plvSelects),
         |plcorpus AS (
         |  SELECT doc_id, t FROM od UNION ALL SELECT doc_id, t FROM plv),
         |${minhashCtes(bands = 16, rowsPerBand = 4,
             docsSql = "SELECT doc_id, t FROM plcorpus")},
         |pairs AS (
         |  SELECT id_a, id_b FROM cands
         |  WHERE len(list_filter(range(1, 65), i -> sa[i] = sb[i])) / 64.0 >= 0.5),
         |szs AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |gt AS (
         |  SELECT v.band, v.d, v.base_id, v.doc_id AS vid, sa.n AS na, sb.n AS nb
         |  FROM plv v
         |  JOIN szs sa ON sa.doc_id = v.base_id
         |  JOIN szs sb ON sb.doc_id = v.doc_id),
         |ints AS (
         |  SELECT g.base_id, g.vid, count(*) AS ni
         |  FROM gt g
         |  JOIN sh a ON a.doc_id = g.base_id
         |  JOIN sh b ON b.doc_id = g.vid AND b.s = a.s
         |  GROUP BY 1, 2),
         |det AS (
         |  SELECT g.band, g.d,
         |    CAST(round(CAST(coalesce(i.ni, 0) AS DOUBLE)
         |      / (g.na + g.nb - coalesce(i.ni, 0)) * 1000000) AS BIGINT) AS jq,
         |    CASE WHEN p.id_a IS NOT NULL THEN 1 ELSE 0 END AS hit
         |  FROM gt g
         |  LEFT JOIN ints i ON i.base_id = g.base_id AND i.vid = g.vid
         |  LEFT JOIN pairs p ON p.id_a = g.base_id AND p.id_b = g.vid)
         |SELECT CAST(band AS INT) AS band, CAST(d AS INT) AS drop_period,
         |  CAST(count(*) AS BIGINT) AS n_planted,
         |  CAST(sum(hit) AS BIGINT) AS n_detected,
         |  round(CAST(sum(hit) AS DOUBLE) / count(*), 4) AS recall,
         |  round(CAST(sum(jq) AS DOUBLE) / (count(*) * 1e6), 6) + 0.0 AS mean_jaccard
         |FROM det
         |GROUP BY band, d
         |ORDER BY band""".stripMargin) { (spark, dir) =>
      import graft.functions.TextFns
      import graft.operators.Dedup
      val bt = Tables.documents(spark, dir).filter(col("doc_id") % 22 === 0)
        .select(col("doc_id"), TextFns.tokens(col("text")).as("t"))
      // plant ids live ABOVE the corpus' max id, derived in-query —
      // a fixed 1e6 offset collides with real ids past a million docs,
      // corrupting the merged shingle sets silently (r13 review)
      val off = Tables.documents(spark, dir).agg((max(col("doc_id")) + 1).as("off"))
      // r15 perf: the plant panel feeds THREE consumers (the merged
      // corpus via the screen, the shingle table, and the ground-truth
      // grid) — without a lineage cut each consumer re-executed the
      // whole 6-branch union (6 panel scans + tokenizes APIECE; the
      // executed plan carried ~134 documents scans). One checkpoint of
      // the panel-bounded plant rows makes the panel a build-once input
      // (guide §2.4 / the q143 pair-set discipline).
      val plv = bandsSpec.map { case (b, d) =>
        bt.crossJoin(broadcast(off))
          .select((col("off") + col("doc_id") * 6 + lit(b.toLong)).as("doc_id"),
          col("doc_id").as("base_id"), lit(b).as("band"), lit(d).as("d"),
          filter(col("t"), (x, i) => ((i + 1) % d) =!= 0).as("t"))
      }.reduce(_ unionByName _).localCheckpoint()
      // token-level plants rebuilt as text: tokens are \s+-split, so
      // they carry no whitespace and concat_ws(" ") round-trips them
      // through the screen's own tokenizer verbatim (both engines'
      // shingle CTEs consume the identical token sequences)
      val corpus = Tables.documents(spark, dir).filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("text"))
        .unionByName(plv.select(col("doc_id"),
          concat_ws(" ", col("t")).as("text")))
      val pairs = Dedup.minhashLshPairs(corpus, "doc_id", "text",
        n = 3, bands = 16, rowsPerBand = 4, threshold = 0.5)
      // read three times (szs, both intersection sides) but not cut: a
      // cut did not pay at sf0.1 (LINEAGE_CUTS.md)
      val sh = corpus
        .crossJoin(broadcast(off))
        .filter(col("doc_id") % 22 === 0 || col("doc_id") >= col("off"))
        .drop("off")
        .select(col("doc_id"),
          explode(TextFns.shingleSet(col("text"), 3)).as("s"))
      val szs = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val gt = plv.select(col("band"), col("d"), col("base_id"),
          col("doc_id").as("vid"))
        .join(szs.select(col("doc_id").as("base_id"), col("n").as("na")), Seq("base_id"))
        .join(szs.select(col("doc_id").as("vid"), col("n").as("nb")), Seq("vid"))
      val ints = gt
        .join(sh.select(col("doc_id").as("base_id"), col("s")), Seq("base_id"))
        .join(sh.select(col("doc_id").as("vid"), col("s")), Seq("vid", "s"))
        .groupBy(col("base_id"), col("vid")).agg(count(lit(1)).as("ni"))
      gt.join(ints, Seq("base_id", "vid"), "left")
        .join(pairs.select(col("id_a").as("base_id"), col("id_b").as("vid"),
          lit(1).as("hit")), Seq("base_id", "vid"), "left")
        .select(col("band"), col("d"),
          round(coalesce(col("ni"), lit(0L)).cast("double")
            / (col("na") + col("nb") - coalesce(col("ni"), lit(0L))) * 1e6)
            .cast("long").as("jq"),
          coalesce(col("hit"), lit(0)).as("hit"))
        .groupBy(col("band").cast("int").as("band"), col("d").cast("int").as("drop_period"))
        .agg(count(lit(1)).as("n_planted"),
          sum(col("hit")).cast("long").as("n_detected"),
          round(sum(col("hit")).cast("double") / count(lit(1)), 4).as("recall"),
          Q.noNegZero(round(sum(col("jq")).cast("double") / (count(lit(1)) * 1e6), 6))
            .as("mean_jaccard"))
        .orderBy(col("band"))
    }
  }

  /** Distributed BPE merge learning (Sennrich et al. 2016) — the
    * vocabulary-induction capability q43 stops short of: q43 counts
    * pre-tokenization tokens; this query LEARNS the first 20 merges of
    * a BPE vocabulary from the corpus, exactly ([[graft.operators.Bpe]]
    * carries the shapes: one corpus-sized word-dict groupBy, then 20
    * dict-grain rounds of pair-count → 1-row argmax → greedy merge
    * apply, each round lineage-cut). The oracle replays the identical
    * 20 rounds as generated MATERIALIZED CTE pairs (the q216
    * unrolled-rounds precedent — MATERIALIZED is load-bearing: wd_k is
    * referenced twice, and default inlining would expand wd20 to 2^20
    * copies of the corpus scan). Argmax ties break (count DESC, lhs,
    * rhs) — the q231 convention, binary collation both engines. */
  private val BpeRounds = 20

  /** Shared BPE oracle scaffolding (q235/q236): the word dictionary and
    * one (pair-count, argmax, merge-apply) CTE triple per round. */
  private def bpeWd0Cte: String =
    """wd0 AS MATERIALIZED (
      |  SELECT w AS word, CAST(count(*) AS BIGINT) AS cnt,
      |    '~' || array_to_string(regexp_extract_all(w, '.'), '~~') || '~' AS s
      |  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
      |        FROM documents) t
      |  GROUP BY 1)""".stripMargin

  private def bpeRoundCtes(k: Int): String =
    s"""pc$k AS (
       |  SELECT a[i] AS lhs, a[i + 1] AS rhs, CAST(sum(cnt) AS BIGINT) AS pair_count
       |  FROM (SELECT cnt, string_split(trim(s, '~'), '~~') AS a FROM wd${k - 1}) t,
       |    UNNEST(range(1, len(a))) AS u(i)
       |  GROUP BY 1, 2),
       |m$k AS MATERIALIZED (SELECT lhs, rhs, pair_count FROM pc$k
       |  ORDER BY pair_count DESC, lhs, rhs LIMIT 1),
       |wd$k AS MATERIALIZED (
       |  SELECT word, cnt,
       |    replace(s, '~' || lhs || '~~' || rhs || '~', '~' || lhs || rhs || '~') AS s
       |  FROM wd${k - 1}, m$k)""".stripMargin

  val q235BpeMerges: Q = {
    val finalSel = (1 to BpeRounds).map(k =>
      s"SELECT CAST($k AS INT) AS step, lhs, rhs, pair_count FROM m$k")
      .mkString("\n  UNION ALL ")
    Q("q235_bpe_merges",
      s"""WITH $bpeWd0Cte,
         |${(1 to BpeRounds).map(bpeRoundCtes).mkString(",\n")}
         |SELECT * FROM (
         |  $finalSel)
         |ORDER BY step""".stripMargin) { (spark, dir) =>
      graft.operators.Bpe.learnMerges(Tables.documents(spark, dir), "text", BpeRounds)
    }
  }

  /** The BPE APPLY-side efficiency curve (q235's sibling): after every
    * learned merge, the corpus-weighted total token count and
    * tokens-per-word — the diminishing-returns curve that sizes a
    * vocabulary (step 0 = the pre-merge character baseline). Oracle =
    * the q235 round CTEs plus one dict-grain total per step. */
  val q236BpeCompression: Q = {
    val tkCtes = (1 to BpeRounds).map(k =>
      s"""tk$k AS (SELECT CAST(sum(cnt * len(string_split(trim(s, '~'), '~~'))) AS BIGINT)
         |  AS total FROM wd$k)""".stripMargin).mkString(",\n")
    val stepSel = (1 to BpeRounds).map(k =>
      s"""SELECT CAST($k AS INT) AS step, lhs, rhs, pair_count, tk$k.total AS total_tokens,
         |    round(CAST(tk$k.total AS DOUBLE) / w, 6) + 0.0 AS tokens_per_word
         |  FROM m$k, tk$k, wc""".stripMargin)
      .mkString("\n  UNION ALL ")
    Q("q236_bpe_compression",
      s"""WITH $bpeWd0Cte,
         |${(1 to BpeRounds).map(bpeRoundCtes).mkString(",\n")},
         |wc AS (SELECT CAST(sum(cnt) AS BIGINT) AS w FROM wd0),
         |t0 AS (SELECT CAST(sum(cnt * len(string_split(trim(s, '~'), '~~'))) AS BIGINT)
         |  AS total FROM wd0),
         |$tkCtes
         |SELECT * FROM (
         |  SELECT CAST(0 AS INT) AS step, CAST(NULL AS VARCHAR) AS lhs,
         |    CAST(NULL AS VARCHAR) AS rhs, CAST(NULL AS BIGINT) AS pair_count,
         |    t0.total AS total_tokens,
         |    round(CAST(t0.total AS DOUBLE) / w, 6) + 0.0 AS tokens_per_word
         |  FROM t0, wc
         |  UNION ALL $stepSel)
         |ORDER BY step""".stripMargin) { (spark, dir) =>
      graft.operators.Bpe.compressionCurve(Tables.documents(spark, dir), "text", BpeRounds)
    }
  }

  /** Per-source Cohen's kappa between the language-ID prediction (the
    * q26 classifier, via the SHARED langScored expressions) and the
    * labeled `lang` column — inter-annotator agreement as a first-class
    * operator, the labeling-QA statistic a training-data pipeline runs
    * between raters, between a model and gold labels, or between two
    * labeling pipeline versions. kappa = (po − pe)/(1 − pe) with po the
    * observed agreement and pe the marginal-chance agreement.
    *
    * Exactness: everything is exact integers until ONE final division —
    * po_num = Σ diag, pe_num = Σ_k row_k·col_k, and
    * kappa = (agree·n − pe_num)/(n² − pe_num); the n² terms carry a
    * loud int64 guard at n > 3×10⁹ per source (folded into the value),
    * and a degenerate source where chance agreement is total
    * (n² = pe_num) yields NULL identically in both dialects.
    * Scale: confusion-matrix grain per source (classes², tiny), one
    * doc-grain scan. */
  val q238CohenKappa = Q(
    "q238_cohen_kappa",
    s"""WITH ${duckLangScoredCtes("source,")},
       |cm AS (
       |  SELECT source, lang, predicted, CAST(count(*) AS BIGINT) AS n
       |  FROM scored GROUP BY 1, 2, 3),
       |per AS (
       |  SELECT source, CAST(sum(n) AS BIGINT) AS nd,
       |    CAST(sum(CASE WHEN lang = predicted THEN n ELSE 0 END) AS BIGINT) AS agree,
       |    CASE WHEN sum(n) > 3000000000 THEN error('cohen_kappa: per-group item count past the int64 n^2 headroom — subsample or shard')
       |         ELSE 1 END AS ok
       |  FROM cm GROUP BY 1),
       |marg AS (
       |  SELECT rm.source, CAST(sum(rm.r * c2.c) AS BIGINT) AS pe_num
       |  FROM (SELECT source, lang AS k, CAST(sum(n) AS BIGINT) AS r
       |        FROM cm GROUP BY 1, 2) rm
       |  JOIN (SELECT source, predicted AS k, CAST(sum(n) AS BIGINT) AS c
       |        FROM cm GROUP BY 1, 2) c2
       |    ON c2.source = rm.source AND c2.k = rm.k
       |  GROUP BY 1)
       |SELECT p.source, p.nd AS n_docs, p.agree AS n_agree,
       |  round(CAST(p.agree * p.ok AS DOUBLE) / p.nd, 6) + 0.0 AS po,
       |  round(CAST(coalesce(m.pe_num, 0) AS DOUBLE) / (p.nd * p.nd), 6) + 0.0 AS pe,
       |  (CASE WHEN p.nd * p.nd = coalesce(m.pe_num, 0) THEN NULL
       |       ELSE round(CAST(p.agree * p.nd - coalesce(m.pe_num, 0) AS DOUBLE)
       |         / (p.nd * p.nd - coalesce(m.pe_num, 0)), 6) END) + 0.0 AS kappa
       |FROM per p LEFT JOIN marg m ON m.source = p.source
       |ORDER BY p.source""".stripMargin) { (spark, dir) =>
    graft.operators.Agreement.cohenKappa(
        langScored(Tables.documents(spark, dir), Seq("source")),
        "source", "lang", "predicted")
      .withColumnRenamed("n_items", "n_docs")
  }


  /** Shared three-rater vote panel (q240/q241/q243): every document is
    * graded {low, mid, high} for LENGTH CLASS by three deterministic
    * raters reading three different signals — `chars` (n_chars
    * thresholds 200/400; the strong rater, always votes), `tokens`
    * (whitespace token count, thresholds 40/80; ~88% raw agreement
    * with `chars`), and `stop` (count of {a, the, of, to} stopword
    * tokens, thresholds 2/5; a NOISY proxy, ~60% agreement) — with
    * scheduled missingness: `tokens` abstains on doc_id % 7 = 0 and
    * `stop` on doc_id % 5 = 2 (NULL votes), the shape of a campaign
    * where each item is seen by a subset of the rater pool. Documents
    * where both abstain leave one vote and drop out of every
    * pairable-unit statistic. Long format (source, doc_id, rater,
    * label), mirrored verbatim by [[duckRaterVotesCtes]]. */
  private def raterVotes(docs: org.apache.spark.sql.DataFrame) = {
    val base = docs
      .select(col("source"), col("doc_id"), col("n_chars"),
        TextFns.tokens(col("text")).as("toks"))
      .select(col("source"), col("doc_id"), col("n_chars"),
        size(col("toks")).as("tc"),
        TextFns.markerHits(col("toks"), Seq("a", "the", "of", "to")).as("sc"))
    def grade(v: org.apache.spark.sql.Column, lo: Int,
        hi: Int): org.apache.spark.sql.Column =
      when(v < lo, "low").when(v < hi, "mid").otherwise("high")
    // r15 perf: ONE corpus pass — the three raters ride a single
    // scan+tokenize as an in-row explode of (rater, label) structs.
    // The previous 3-way union planned three documents scans (two of
    // them re-tokenizing) for the same long-format rows (guide §2.3:
    // emit everything one pass can compute); identical row multiset.
    base.select(col("source"), col("doc_id"),
        explode(array(
          struct(lit("chars").as("rater"),
            grade(col("n_chars"), 200, 400).as("label")),
          struct(lit("tokens").as("rater"),
            when(col("doc_id") % 7 === 0, lit(null).cast("string"))
              .otherwise(grade(col("tc"), 40, 80)).as("label")),
          struct(lit("stop").as("rater"),
            when(col("doc_id") % 5 === 2, lit(null).cast("string"))
              .otherwise(grade(col("sc"), 2, 5)).as("label")))).as("v"))
      .select(col("source"), col("doc_id"),
        col("v.rater").as("rater"), col("v.label").as("label"))
  }

  /** DuckDB twin of [[raterVotes]]: a `votes` CTE with
    * (source, doc_id, rater, label). */
  private def duckRaterVotesCtes: String =
    s"""rv AS (SELECT source, doc_id, n_chars,
       |    len(string_split_regex(lower(text), '\\s+')) AS tc,
       |    len(list_filter(string_split_regex(lower(text), '\\s+'),
       |      x -> list_contains(['a','the','of','to'], x))) AS sc
       |  FROM documents),
       |votes AS (
       |  SELECT source, doc_id, 'chars' AS rater,
       |    CASE WHEN n_chars < 200 THEN 'low' WHEN n_chars < 400 THEN 'mid'
       |         ELSE 'high' END AS label
       |  FROM rv
       |  UNION ALL
       |  SELECT source, doc_id, 'tokens' AS rater,
       |    CASE WHEN doc_id % 7 = 0 THEN NULL
       |         WHEN tc < 40 THEN 'low' WHEN tc < 80 THEN 'mid'
       |         ELSE 'high' END AS label
       |  FROM rv
       |  UNION ALL
       |  SELECT source, doc_id, 'stop' AS rater,
       |    CASE WHEN doc_id % 5 = 2 THEN NULL
       |         WHEN sc < 2 THEN 'low' WHEN sc < 5 THEN 'mid'
       |         ELSE 'high' END AS label
       |  FROM rv)""".stripMargin

  /** Krippendorff's alpha per source over the three-rater panel — the
    * many-rater, missing-tolerant upgrade of q238's two-rater kappa
    * (Krippendorff 2011). Exact integers until ONE division via the
    * lcm-scaled coincidence identity (see
    * [[graft.operators.Agreement.krippendorffAlpha]]): the
    * off-diagonal coincidence mass of a unit is
    * (m_u^2 − Σ_c n_uc^2)/(m_u − 1) — two unit-grain aggregates, never
    * a label-pair explode, never a unit self-join. Units where only
    * one rater voted drop out (Krippendorff's rule); the S-scale
    * integrality guard and the int64 headroom guard both fail loudly,
    * folded into the value. */
  val q240KrippendorffAlpha = Q(
    "q240_krippendorff_alpha",
    s"""WITH $duckRaterVotesCtes,
       |nuc AS (
       |  SELECT source, doc_id, label AS k, CAST(count(*) AS BIGINT) AS n
       |  FROM votes WHERE label IS NOT NULL GROUP BY 1, 2, 3),
       |pu AS (
       |  SELECT source, doc_id, CAST(sum(n) AS BIGINT) AS mu,
       |    CAST(sum(n * n) AS BIGINT) AS sumsq
       |  FROM nuc GROUP BY 1, 2 HAVING sum(n) >= 2),
       |puf AS (
       |  SELECT *, CASE mu WHEN 2 THEN 2 WHEN 3 THEN 1
       |    ELSE error('krippendorff_alpha: a unit carries more than 3 votes — raise maxRaters (cost is one more CASE arm)') END AS f
       |  FROM pu),
       |pg AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_units,
       |    CAST(sum(mu) AS BIGINT) AS nv,
       |    CAST(sum(f * (mu * mu - sumsq)) AS BIGINT) AS do_s,
       |    CASE WHEN sum(mu) > 500000000 THEN error('krippendorff_alpha: per-group pairable values past the int64 (n-1)*do_s headroom — subsample or shard the group')
       |         ELSE 1 END AS ok
       |  FROM puf GROUP BY 1),
       |mg AS (
       |  SELECT source, CAST(sum(nc * nc) AS BIGINT) AS sumsq_c FROM (
       |    SELECT nuc.source, nuc.k, CAST(sum(nuc.n) AS BIGINT) AS nc
       |    FROM nuc JOIN pu ON pu.source = nuc.source AND pu.doc_id = nuc.doc_id
       |    GROUP BY 1, 2) t
       |  GROUP BY 1)
       |SELECT pg.source, pg.n_units, pg.nv AS n_values,
       |  (CASE WHEN pg.nv * pg.nv = mg.sumsq_c THEN NULL
       |    ELSE round(1.0 - CAST((pg.nv - 1) * pg.do_s * pg.ok AS DOUBLE)
       |      / (2 * (pg.nv * pg.nv - mg.sumsq_c)), 6) END) + 0.0 AS alpha
       |FROM pg JOIN mg ON mg.source = pg.source
       |ORDER BY pg.source""".stripMargin) { (spark, dir) =>
    graft.operators.Agreement.krippendorffAlpha(
      raterVotes(Tables.documents(spark, dir)),
      "source", "doc_id", "label", maxRaters = 3)
  }

  /** Per-rater reliability against the strict-majority consensus —
    * the operational labeling-QA readout (WHICH rater drifts, not just
    * how much the pool agrees; pairs with q240's pool-level alpha).
    * Consensus = the unique label holding a strict majority of a
    * unit's non-null votes; tied units (1-1 splits, 1-1-1) leave every
    * accuracy denominator. Exact integers until the one division. */
  val q241RaterReliability = Q(
    "q241_rater_reliability",
    s"""WITH $duckRaterVotesCtes,
       |cn AS (
       |  SELECT source, doc_id, label, CAST(count(*) AS BIGINT) AS n
       |  FROM votes WHERE label IS NOT NULL GROUP BY 1, 2, 3),
       |cons AS (
       |  SELECT source, doc_id, label AS consensus FROM (
       |    SELECT *, sum(n) OVER (PARTITION BY source, doc_id) AS mu FROM cn) t
       |  WHERE n * 2 > mu AND mu >= 2)
       |SELECT v.source, v.rater, CAST(count(*) AS BIGINT) AS n_rated,
       |  CAST(sum(CASE WHEN c.consensus IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_consensus_seen,
       |  CAST(sum(CASE WHEN v.label = c.consensus THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_match,
       |  (CASE WHEN sum(CASE WHEN c.consensus IS NOT NULL THEN 1 ELSE 0 END) = 0
       |    THEN NULL
       |    ELSE round(CAST(sum(CASE WHEN v.label = c.consensus THEN 1 ELSE 0 END) AS DOUBLE)
       |      / sum(CASE WHEN c.consensus IS NOT NULL THEN 1 ELSE 0 END), 6)
       |    END) + 0.0 AS accuracy
       |FROM votes v LEFT JOIN cons c
       |  ON c.source = v.source AND c.doc_id = v.doc_id
       |WHERE v.label IS NOT NULL
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
    graft.operators.Agreement.majorityReliability(
      raterVotes(Tables.documents(spark, dir)),
      "source", "doc_id", "rater", "label")
  }

  /** One Dawid-Skene refinement step over the three-rater panel
    * (Dawid & Skene 1979): learn each rater's confusion matrix against
    * the majority consensus, then relabel EVERY voted document by the
    * reliability-weighted posterior — the standard fix for majority
    * voting when raters differ in quality (here the noisy `stop`
    * rater stops outvoting `chars`/`tokens`). Whole computation in the
    * exact nano lattice (the q237 class): ln of count ratios rounds to
    * int64 weights, per-doc scores are exact integer sums, argmax ties
    * break toward the smallest label identically in both dialects.
    * Scale: confusion-grain aggregates, a broadcast raters x L^2
    * weight table, votes x L scoring with a doc-grain argmax
    * aggregate. */
  val q243DawidSkeneStep = Q(
    "q243_dawid_skene_step",
    s"""WITH $duckRaterVotesCtes,
       |v AS (SELECT doc_id AS unit, rater, label AS given
       |  FROM votes WHERE label IS NOT NULL),
       |labs AS (SELECT DISTINCT given AS lab FROM v),
       |nl AS (SELECT CAST(count(*) AS BIGINT) AS l FROM labs),
       |cn AS (SELECT unit, given, CAST(count(*) AS BIGINT) AS n
       |  FROM v GROUP BY 1, 2),
       |cons AS (
       |  SELECT unit, given AS truth FROM (
       |    SELECT *, sum(n) OVER (PARTITION BY unit) AS mu FROM cn) t
       |  WHERE n * 2 > mu AND mu >= 2),
       |conf AS (
       |  SELECT v.rater, c.truth, v.given, CAST(count(*) AS BIGINT) AS n_rtg
       |  FROM v JOIN cons c ON c.unit = v.unit GROUP BY 1, 2, 3),
       |rt AS (SELECT rater, truth, CAST(sum(n_rtg) AS BIGINT) AS n_rt
       |  FROM conf GROUP BY 1, 2),
       |rl AS (SELECT DISTINCT rater FROM v),
       |dense AS (
       |  SELECT r.rater, t.lab AS truth, g.lab AS given,
       |    CAST(round(1e9 * ln((coalesce(c.n_rtg, 0) + 1)
       |      / CAST(coalesce(x.n_rt, 0) + nl.l AS DOUBLE))) AS BIGINT) AS w
       |  FROM rl r CROSS JOIN labs t CROSS JOIN labs g CROSS JOIN nl
       |  LEFT JOIN conf c ON c.rater = r.rater AND c.truth = t.lab AND c.given = g.lab
       |  LEFT JOIN rt x ON x.rater = r.rater AND x.truth = t.lab),
       |pr AS (SELECT truth, CAST(count(*) AS BIGINT) AS n0c FROM cons GROUP BY 1),
       |n0 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM cons),
       |pd AS (
       |  SELECT t.lab AS truth,
       |    CAST(round(1e9 * ln((coalesce(p.n0c, 0) + 1)
       |      / CAST(n0.n + nl.l AS DOUBLE))) AS BIGINT) AS pw
       |  FROM labs t CROSS JOIN n0 CROSS JOIN nl
       |  LEFT JOIN pr p ON p.truth = t.lab),
       |sc AS (
       |  SELECT v.unit, d.truth, CAST(sum(d.w) AS BIGINT) AS sw
       |  FROM v JOIN dense d ON d.rater = v.rater AND d.given = v.given
       |  GROUP BY 1, 2),
       |sp AS (SELECT sc.unit, sc.truth, sc.sw + pd.pw AS score
       |  FROM sc JOIN pd ON pd.truth = sc.truth),
       |post AS (
       |  SELECT unit, truth AS posterior FROM (
       |    SELECT *, row_number() OVER (PARTITION BY unit
       |      ORDER BY score DESC, truth) AS rn FROM sp) t
       |  WHERE rn = 1)
       |SELECT p.unit AS doc_id, c.truth AS majority, p.posterior,
       |  CAST(CASE WHEN c.truth IS NULL OR c.truth <> p.posterior
       |    THEN 1 ELSE 0 END AS INT) AS changed
       |FROM post p LEFT JOIN cons c ON c.unit = p.unit
       |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    graft.operators.Agreement.dawidSkeneStep(
        raterVotes(Tables.documents(spark, dir)),
        "doc_id", "rater", "label")
      .select(col("unit").as("doc_id"), col("majority"), col("posterior"),
        col("changed").cast("int").as("changed"))
      .orderBy(col("doc_id"))
  }

  /** TRAINED multinomial Naive Bayes filter with a PLANTED-recovery
    * eval (the q226/q227 discipline applied to a trained model): the
    * corpus is planted with three classes of graded marker intensity —
    * `plain` (untouched), `light` (ONE appended `zq` marker token),
    * `heavy` (eight) — by doc_id % 3; the model trains on one md5-hash
    * half and classifies the other, and the confusion matrix with
    * per-class recall IS the measured readout of what a trained
    * filter can recover at each signal strength (heavy ≈ separable by
    * the marker count, light vs plain rides the dilution of the base
    * mixture — the honest hard case). This is the real pipeline
    * pattern: annotate a subset, train a cheap bounded model
    * (label × 512 hashed buckets — the KB-scale learned-parameter
    * class, broadcast to the apply side), apply at corpus scale.
    * Whole pipeline in the exact nano lattice (ln weights rounded to
    * int64, per-doc scores exact integer sums, argmax ties toward the
    * LARGEST label in both dialects) — see
    * [[graft.operators.NaiveBayes]]. Scale: one corpus-grain token
    * aggregate per side; the argmax is a doc-grain aggregate. */
  val q242NbPlantedRecovery = Q(
    "q242_nb_planted_recovery",
    s"""WITH pl AS (
       |  SELECT doc_id,
       |    CASE doc_id % 3 WHEN 0 THEN 'plain' WHEN 1 THEN 'light'
       |      ELSE 'heavy' END AS cls,
       |    text || repeat(' zq', CASE doc_id % 3 WHEN 1 THEN 1 WHEN 2 THEN 8
       |      ELSE 0 END) AS text
       |  FROM documents),
       |tr AS (
       |  SELECT cls, string_split_regex(lower(text), '\\s+') AS toks
       |  FROM pl WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 50),
       |tok AS (
       |  SELECT cls AS label,
       |    ('0x' || substr(md5(t), 1, 15))::BIGINT % 512 AS b,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM tr, unnest(toks) AS u(t) WHERE t <> '' GROUP BY 1, 2),
       |tot AS (SELECT label, CAST(sum(cnt) AS BIGINT) AS tot FROM tok GROUP BY 1),
       |nd AS (SELECT cls AS label, CAST(count(*) AS BIGINT) AS cnt
       |  FROM pl WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 50 GROUP BY 1),
       |dense AS (
       |  SELECT l.label, g.b,
       |    CAST(round(1e9 * ln((coalesce(k.cnt, 0) + 1)
       |      / CAST(coalesce(t.tot, 0) + 512 AS DOUBLE))) AS BIGINT) AS w
       |  FROM (SELECT label FROM nd) l
       |  CROSS JOIN (SELECT unnest(range(0, 512)) AS b) g
       |  LEFT JOIN tok k ON k.label = l.label AND k.b = g.b
       |  LEFT JOIN tot t ON t.label = l.label),
       |ndt AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
       |  CAST(count(*) AS BIGINT) AS c FROM nd),
       |pri AS (
       |  SELECT nd.label,
       |    CAST(round(1e9 * ln((nd.cnt + 1) / CAST(ndt.n + ndt.c AS DOUBLE))) AS BIGINT) AS pw
       |  FROM nd CROSS JOIN ndt),
       |te AS (
       |  SELECT doc_id, cls, string_split_regex(lower(text), '\\s+') AS toks
       |  FROM pl WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 >= 50),
       |db AS (
       |  SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT % 512 AS b,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM te, unnest(toks) AS u(t) WHERE t <> '' GROUP BY 1, 2),
       |sc AS (
       |  SELECT db.doc_id, d.label, CAST(sum(db.cnt * d.w) AS BIGINT) AS sw
       |  FROM db JOIN dense d ON d.b = db.b GROUP BY 1, 2),
       |scp AS (
       |  SELECT sc.doc_id, sc.label, sc.sw + pri.pw AS score
       |  FROM sc JOIN pri ON pri.label = sc.label
       |  UNION ALL
       |  SELECT te.doc_id, pri.label, pri.pw AS score
       |  FROM te CROSS JOIN pri
       |  WHERE te.doc_id NOT IN (SELECT doc_id FROM db)),
       |pred AS (
       |  SELECT doc_id, label AS predicted FROM (
       |    SELECT *, row_number() OVER (PARTITION BY doc_id
       |      ORDER BY score DESC, label DESC) AS rn FROM scp) t
       |  WHERE rn = 1),
       |cm AS (
       |  SELECT te.cls, p.predicted, CAST(count(*) AS BIGINT) AS n_docs
       |  FROM te JOIN pred p ON p.doc_id = te.doc_id GROUP BY 1, 2),
       |ct AS (SELECT cls, CAST(sum(n_docs) AS BIGINT) AS t FROM cm GROUP BY 1)
       |SELECT cm.cls, cm.predicted, cm.n_docs,
       |  round(cm.n_docs / CAST(ct.t AS DOUBLE), 6) + 0.0 AS recall
       |FROM cm JOIN ct ON ct.cls = cm.cls
       |ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
    import graft.operators.NaiveBayes
    val planted = Tables.documents(spark, dir)
      .select(col("doc_id"),
        when(col("doc_id") % 3 === 0, "plain")
          .when(col("doc_id") % 3 === 1, "light")
          .otherwise("heavy").as("cls"),
        concat(col("text"), repeat(lit(" zq"),
          when(col("doc_id") % 3 === 1, 1)
            .when(col("doc_id") % 3 === 2, 8).otherwise(0))).as("text"))
    // hash split, NOT doc_id parity: other synthetic columns cycle
    // with doc_id, and the planted class itself is doc_id % 3 — the
    // md5 split is independent of both
    val train = planted.filter(Sampling.hashBucket(col("doc_id")) < 50)
    val test = planted.filter(Sampling.hashBucket(col("doc_id")) >= 50)
    val model = NaiveBayes.fit(train, "text", "cls")
    val pred = NaiveBayes.classify(test, "doc_id", "text", model)
    val cm = test.select(col("doc_id"), col("cls"))
      .join(pred, Seq("doc_id"))
      .groupBy(col("cls"), col("predicted"))
      .agg(count(lit(1)).as("n_docs"))
    val ct = cm.groupBy(col("cls")).agg(sum(col("n_docs")).as("t"))
    cm.join(ct, Seq("cls"))
      .select(col("cls"), col("predicted"), col("n_docs"),
        (round(col("n_docs").cast("double") / col("t"), 6) + lit(0.0d))
          .as("recall"))
      .orderBy(col("cls"), col("predicted"))
  }

  val all: Seq[Q] = Seq(q23DedupExact, q24TokenStats, q25QualityFilter, q26LangId,
    q27Fingerprint, q28JaccardPairs, q29MinhashPairs, q30SimhashPairs, q37TfidfTopTerms,
    q43BpeTokens, q44WinnowFingerprint, q46PivotLangs, q48ExplodeOuter, q53CharEntropy,
    q54RepetitionSignals, q58HeavyHitters, q60SimhashPortable, q68Contamination,
    q69PackChunks, q70DocDedupKeep, q73PiiScrub, q74BoilerplateNgrams, q75LmDocScore,
    q77StratifiedSample, q78EditDistancePairs, q81ClassifierScores, q83DupSpanCoverage,
    q84WeightedSample, q85TfidfCosinePairs, q94CrossCorpusDedup, q95ChunkDocuments,
    q96CountMinFreqs, q98TokenRuns, q100NegativeSamples, q101PmiPhrases,
    q108SkipgramPairs, q113MixtureSample, q114GopherRules, q118PipelineE2e,
    q119DsirWeights, q120VocabCoverage, q121SourceDivergence, q128PrefixFilterPairs,
    q130SegmentDedup, q137Bm25TopK, q138TrainShards, q140RendezvousShards,
    q141RetrieveRerank, q142MmrRerank, q143DedupRecall, q144PrepPipeline,
    q146SpanScrubbed, q148PortableHll, q149CorpusDrift, q150SourceAffinity,
    q153QualityAuc, q155ScoreCalibration, q160PhraseSearch,
    q162CompactionPlan, q164ParetoFrontier, q166ContainmentPairs,
    q167KneserNey, q169RrfFusion, q173IncrementalCompaction,
    q176HllOverlap, q177Readability, q180DatasetCard, q191ZipfFit,
    q192QuantileNormalize, q193PerplexityFilter, q194HeapsLaw,
    q195TokenWaterfill, q196JsDivergence, q201ShardBalance,
    q202BrierDecomposition, q204ConformalThreshold, q212RetrievalNdcg,
    q213ChainNdcg, q218CurriculumOrder, q225IsotonicCalibration,
    q227PlantedTextDupRecall, q230ReshardMovement, q234NgramNovelty,
    q235BpeMerges, q236BpeCompression, q238CohenKappa,
    q240KrippendorffAlpha, q241RaterReliability, q242NbPlantedRecovery,
    q243DawidSkeneStep)
}
