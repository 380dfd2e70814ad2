package graft.extensions

import graft.Q
import graft.functions.TextFns
import graft.operators.{Corpus, Dedup, Multimodal, Pii, Quantize, Relevance, Similarity, TextAnalysis}
import graft.tables.Tables._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Large-scale training-data-pipeline operators — dedup family,
  * similarity search, text analysis, multimodal plumbing — wired to the
  * driver's `documents`/`embeddings` tables with exact DuckDB oracles.
  *
  * Oracle-parity ground rules (why these match bit-for-bit):
  *  - integer hashing is md5-prefix (`conv(substr(md5,1,8),16,10)` ≡
  *    DuckDB `CAST('0x'||substr(md5,1,8) AS BIGINT)`);
  *  - all float reductions are sequential folds over arrays (Spark
  *    `aggregate`, DuckDB `list_sum`) in double — same order, same
  *    IEEE result — never an unordered SUM over exploded rows;
  *  - ratios divide exact integers in double.
  *
  * The heavy lifting lives in [[graft.operators.Dedup]],
  * [[graft.operators.Similarity]], [[graft.operators.TextAnalysis]],
  * [[graft.operators.Multimodal]] — this file is the wiring + SQL.
  */
object ExtensionQueries {

  // ---- shared oracle SQL fragments (DuckDB dialect) -------------------
  // tokenizer/hash/shingle macros live in OracleSql (one source of
  // truth across all oracle files)
  import OracleSql.{TOKS, fxSql, h32, shSql}

  /** Shared judged-run fixture for the IR eval family (ext_ndcg /
    * ext_mrr / ext_recall_k): 50 queries, 1-based unique per-query
    * ranks, graded relevance 0/1/3 from coprime residues so every
    * query has relevant docs at scattered depths. The oracle CTEs
    * restate it verbatim.
    */
  private def judgedRun(s: org.apache.spark.sql.SparkSession,
                        d: String): org.apache.spark.sql.DataFrame = {
    val id = col("doc_id")
    documents(s, d).select(
      pmod(id, lit(50)).as("qid"),
      (expr("doc_id div 50") + 1).as("rnk"),
      when(pmod(id * 7, lit(11)) === 0, 3)
        .when(pmod(id * 7, lit(5)) === 0, 1)
        .otherwise(0).as("rel"))
  }

  /** Sequential-fold cosine similarity between two FLOAT[] columns
    * (mirrors VectorFns.cosine: double casts, fold order, sqrt placement).
    */
  private def cosSql(a: String, b: String): String = {
    def dot(x: String, y: String) =
      s"list_sum(list_transform(range(1, 65), i -> " +
        s"CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE)))"
    s"(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})))"
  }

  /** LSH bucket id from `planes` deterministic hyperplanes (mirrors
    * VectorFns.lshBucket; i is 0-based there, range is 1-based here;
    * `seed` selects the independent hash table).
    */
  private def bucketSql(v: String, planes: Int, seed: Int = 0): String =
    (0 until planes).map { j =>
      val g = seed * planes + j
      val hp = s"((($g * 2654435761) + (i-1) * 40503) % 1000003)" +
        "::DOUBLE / 1000003.0 - 0.5"
      s"(CASE WHEN list_sum(list_transform(range(1, 65), i -> " +
        s"CAST($v[i] AS DOUBLE) * ($hp))) > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** k-wide MinHash signature over distinct n-gram shingles (mirrors
    * [[graft.expressions.MinHashSig]]).
    */
  private def minhashSql(n: Int, k: Int): String =
    s"list_transform(range(0, $k), j -> coalesce(" +
      s"list_min(list_transform(${shSql(n)}, s -> " +
      s"((j*2+1) * ${h32("s")} + (j+1) * 40503) % 2147483647)), 2147483647))"

  /** DuckDB mirror of [[TextAnalysis.knTrigramScore]] — shared by the
    * exact (minCount = 1) and pruned (minCount > 1) registry entries.
    * The HAVING cut lands on the ct CTE, so every model CTE derives
    * from the pruned type table in the Spark consumer order.
    */
  private def kn3Sql(minCount: Int): String = {
    import OracleSql.fxSql
    val prune = if (minCount > 1) s" HAVING count(*) >= $minCount" else ""
    s"""WITH tok AS (SELECT doc_id, $TOKS AS t FROM documents),
       |tg AS (SELECT doc_id,
       |   t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS tri,
       |   t[i] || ' ' || t[i+1] AS p12,
       |   t[i+1] || ' ' || t[i+2] AS s23,
       |   t[i+1] AS w2, t[i+2] AS w3
       |  FROM tok, unnest(range(1, len(t) - 1)) u(i)
       |  WHERE len(t) >= 3),
       |ct AS (SELECT tri, p12, s23, w2, w3, count(*) AS c123
       |  FROM tg GROUP BY 1, 2, 3, 4, 5$prune),
       |ctx3 AS (SELECT p12, sum(c123) AS c12t, count(*) AS n12f
       |  FROM ct GROUP BY 1),
       |mid23 AS (SELECT s23, count(*) AS n1c23 FROM ct GROUP BY 1),
       |midw2 AS (SELECT w2, count(*) AS nmid FROM ct GROUP BY 1),
       |bg AS (SELECT t[i] || ' ' || t[i+1] AS bg2
       |  FROM tok, unnest(range(1, len(t))) u(i) WHERE len(t) >= 2),
       |cb AS (SELECT bg2, count(*) AS c12 FROM bg GROUP BY 1),
       |ctx2 AS (SELECT split_part(bg2, ' ', 1) AS w2b, count(*) AS n1f
       |  FROM cb GROUP BY 1),
       |cont AS (SELECT split_part(bg2, ' ', 2) AS w3b, count(*) AS n1c
       |  FROM cb GROUP BY 1),
       |tt AS (SELECT (SELECT count(*) FROM cb) AS tcnt,
       |  (SELECT count(DISTINCT tk) FROM
       |    (SELECT unnest(t) AS tk FROM tok)) AS vcnt),
       |occ AS (SELECT doc_id, tri, p12, s23, w2, w3, count(*) AS m
       |  FROM tg GROUP BY 1, 2, 3, 4, 5, 6),
       |pr AS (SELECT doc_id, m,
       |   CASE WHEN c12t > 0 THEN
       |    (greatest(CAST(c123 AS DOUBLE) - 0.75, 0.0) +
       |      0.75 * CAST(n12f AS DOUBLE) * pbo) / CAST(c12t AS DOUBLE)
       |   ELSE pbo END AS p
       |  FROM (SELECT doc_id, m, c123, c12t, n12f,
       |    CASE WHEN nmid > 0 THEN
       |     (greatest(CAST(n1c23 AS DOUBLE) - 0.75, 0.0) +
       |       0.75 * CAST(n1f AS DOUBLE) * pc) / CAST(nmid AS DOUBLE)
       |    ELSE pc END AS pbo
       |   FROM (SELECT o.doc_id, o.m,
       |      coalesce(ct.c123, 0) AS c123,
       |      coalesce(ctx3.c12t, 0) AS c12t,
       |      coalesce(ctx3.n12f, 0) AS n12f,
       |      coalesce(mid23.n1c23, 0) AS n1c23,
       |      coalesce(midw2.nmid, 0) AS nmid,
       |      coalesce(ctx2.n1f, 0) AS n1f,
       |      (CAST(coalesce(cont.n1c, 0) AS DOUBLE) + 1.0) /
       |        (CAST(tcnt AS DOUBLE) + CAST(vcnt AS DOUBLE) + 1.0)
       |        AS pc
       |     FROM occ o
       |     LEFT JOIN ct ON ct.tri = o.tri
       |     LEFT JOIN ctx3 ON ctx3.p12 = o.p12
       |     LEFT JOIN mid23 ON mid23.s23 = o.s23
       |     LEFT JOIN midw2 ON midw2.w2 = o.w2
       |     LEFT JOIN ctx2 ON ctx2.w2b = o.w2
       |     LEFT JOIN cont ON cont.w3b = o.w3
       |     CROSS JOIN tt))),
       |sc AS (SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_trigrams,
       |   ${fxSql("CAST(m AS DOUBLE) * (-ln(p))", "1000000.0")} AS q
       |  FROM pr GROUP BY 1)
       |SELECT doc_id, n_trigrams,
       | CAST(q AS DOUBLE) / 1000000.0 / CAST(n_trigrams AS DOUBLE)
       |   AS avg_nll
       |FROM sc ORDER BY doc_id""".stripMargin
  }

  private val stopSql: Map[String, String] =
    TextAnalysis.stopwords.toMap.map { case (lang, words) =>
      lang -> (s"len(list_filter($TOKS, t -> list_contains(" +
        words.mkString("['", "','", "']") + ", t)))")
    }

  /** Deterministic PII-bearing fixture text, synthesized row-by-row
    * from `c_custkey` arithmetic (the documents fixture is PII-free
    * word salad). Identical construction here and in [[piiTextSql]],
    * so the oracle compare verifies the REGEX FAMILIES, not the
    * synthesis: every row carries a phone; even keys add an email,
    * multiples of 3 an IPv4, multiples of 5 an SSN-style id.
    */
  private def piiTextCol: Column = {
    val k = col("c_custkey")
    def s(c: Column) = c.cast("string")
    val phone = concat(s(k % 90 + 10), lit("-"),
      lpad(s((k * 7) % 1000), 3, "0"), lit("-"),
      lpad(s((k * 13) % 1000), 3, "0"), lit("-"),
      lpad(s((k * 29) % 10000), 4, "0"))
    val ip = concat(s(k % 223 + 1), lit("."), s((k * 3) % 256), lit("."),
      s((k * 5) % 256), lit("."), s((k * 7) % 254 + 1))
    val ssn = concat(s((k * 11) % 900 + 100), lit("-"),
      lpad(s((k * 17) % 100), 2, "0"), lit("-"),
      lpad(s((k * 23) % 10000), 4, "0"))
    concat(lit("Contact "), col("c_name"), lit(" at "), phone,
      when(k % 2 === 0,
        concat(lit(" or user"), s(k), lit("@example.com")))
        .otherwise(lit("")),
      when(k % 3 === 0, concat(lit(" last seen from "), ip))
        .otherwise(lit("")),
      when(k % 5 === 0, concat(lit(" ssn "), ssn)).otherwise(lit("")),
      lit(" segment "), col("c_mktsegment"))
  }

  /** DuckDB mirror of [[piiTextCol]]. */
  private val piiTextSql: String = {
    def lp(e: String, n: Int) = s"lpad(CAST($e AS VARCHAR), $n, '0')"
    val phone = "CAST(c_custkey % 90 + 10 AS VARCHAR) || '-' || " +
      lp("(c_custkey * 7) % 1000", 3) + " || '-' || " +
      lp("(c_custkey * 13) % 1000", 3) + " || '-' || " +
      lp("(c_custkey * 29) % 10000", 4)
    val ip = "CAST(c_custkey % 223 + 1 AS VARCHAR) || '.' || " +
      "CAST((c_custkey * 3) % 256 AS VARCHAR) || '.' || " +
      "CAST((c_custkey * 5) % 256 AS VARCHAR) || '.' || " +
      "CAST((c_custkey * 7) % 254 + 1 AS VARCHAR)"
    val ssn = "CAST((c_custkey * 11) % 900 + 100 AS VARCHAR) || '-' || " +
      lp("(c_custkey * 17) % 100", 2) + " || '-' || " +
      lp("(c_custkey * 23) % 10000", 4)
    s"'Contact ' || c_name || ' at ' || $phone || " +
      "(CASE WHEN c_custkey % 2 = 0 THEN ' or user' || " +
      "CAST(c_custkey AS VARCHAR) || '@example.com' ELSE '' END) || " +
      s"(CASE WHEN c_custkey % 3 = 0 THEN ' last seen from ' || $ip " +
      "ELSE '' END) || " +
      s"(CASE WHEN c_custkey % 5 = 0 THEN ' ssn ' || $ssn ELSE '' END) || " +
      "' segment ' || c_mktsegment"
  }

  /** Char-trigram LM oracle CTEs (mirror TextAnalysis.charLmScore):
    * `keyExpr` keys the scored groups, `trainWhere` filters the
    * training docs. lm_occ holds per-occurrence training trigrams,
    * lm_c3/lm_c2/lm_t the model, lm_occ_by_key the map-side-combined
    * (key, trigram, m) rows of the score set. DuckDB `range(1, n)`
    * excludes n, so positions run 1..len−2 like Spark's sequence.
    */
  private def charLmCtes(keyExpr: String, keyName: String,
                         trainWhere: String): String = {
    val tris = "unnest(list_transform(range(1, len(t) - 1), i -> " +
      "substr(t, CAST(i AS INT), 3)))"
    s"""lm_d AS (SELECT doc_id, lang, lower(text) AS t FROM documents),
       |lm_occ AS (SELECT $tris AS tri
       | FROM lm_d WHERE len(t) >= 3 AND ($trainWhere)),
       |lm_c3 AS (SELECT tri, CAST(count(*) AS BIGINT) AS c3
       | FROM lm_occ GROUP BY 1),
       |lm_c2 AS (SELECT substr(tri, 1, 2) AS ctx,
       |  CAST(sum(c3) AS BIGINT) AS c2 FROM lm_c3 GROUP BY 1),
       |lm_t AS (SELECT CAST(count(*) AS BIGINT) AS T FROM lm_c3),
       |lm_occ_by_key AS (SELECT $keyExpr AS $keyName, tri,
       |  CAST(count(*) AS BIGINT) AS m
       | FROM (SELECT doc_id, lang, $tris AS tri
       |   FROM lm_d WHERE len(t) >= 3)
       | GROUP BY 1, 2)""".stripMargin
  }
  private val charLmModelSql = charLmCtes("doc_id", "doc_id", "TRUE")
  private val charLmCrosslingModelSql =
    charLmCtes("lang", "lang", "lang = 'en'")

  /** The fx-summed m·nll term (mirrors Cols.fxTerm at 1e6): both
    * engines round each (group, trigram) contribution to an exact
    * BIGINT before the order-independent sum.
    */
  private def charLmQSql(c3: String, c2: String): String =
    s"CAST(sum(CAST(floor(CAST(o.m AS DOUBLE) * " +
      s"(ln(CAST($c2 AS DOUBLE) + CAST(lm_t.T AS DOUBLE)) - " +
      s"ln(CAST($c3 AS DOUBLE) + 1.0)) * 1000000.0 + 0.5) AS BIGINT)) " +
      "AS BIGINT)"

  /** md5 of the normalized text — the exact-dedup identity (mirrors
    * `md5(TextFns.normText(text))`); shared by the exact-dedup,
    * fingerprint and curation oracles.
    */
  private def normMd5Of(e: String): String =
    s"md5(regexp_replace(trim(lower($e)), '\\s+', ' ', 'g'))"
  private val normMd5Sql = normMd5Of("text")

  /** The quality-score formula over `text` (mirrors
    * TextAnalysis.qualityScore); shared by the quality and curation
    * oracles so a weight tweak cannot fork them.
    */
  private def qualitySql: String = {
    val nTok = s"CAST(len($TOKS) AS DOUBLE)"
    val stopHits = TextAnalysis.stopwords.map(sw => stopSql(sw._1))
      .mkString("(", " + ", ")")
    s"""least($nTok / 100.0, 1.0) * 0.3
       | + (CAST(len(list_distinct($TOKS)) AS DOUBLE) / $nTok) * 0.3
       | + least(CAST($stopHits AS DOUBLE) * 4.0 / $nTok, 1.0) * 0.2
       | + (1.0 - least(CAST(len(string_split_regex(text, '[.!?,;:]')) - 1
       |     AS DOUBLE) / $nTok, 1.0)) * 0.2""".stripMargin
  }

  /** Recursive-CTE prefix resolving MinHash-LSH near-dup clusters of
    * relation `src(doc_id, text, …)` to `clust(doc_id, cluster_id)`
    * (mirrors Dedup.minhashLshPairs at n=3, k=24, bands=6,
    * threshold=0.5 + Dedup.clusters); prepend "WITH RECURSIVE".
    * Shared by the clusters, canonical-selection and near-dup-pipeline
    * oracles so the clustering definition cannot fork.
    */
  private def clustersCte(src: String): String = {
    val k = 24; val bands = 6; val rows = k / bands
    val bandKeys = s"list_transform(range(0, $bands), b -> " +
      s"concat(b, ':', array_to_string(sig[b*$rows+1 : b*$rows+$rows], ',')))"
    val est = s"CAST(len(list_filter(list_zip(a.sig, b.sig), " +
      s"x -> x[1] = x[2])) AS DOUBLE) / $k.0"
    s"""sigs AS (
       |  SELECT doc_id AS did, ${minhashSql(3, k)} AS sig
       |  FROM $src WHERE len(${shSql(3)}) > 0),
       |banded AS (SELECT did, sig, unnest($bandKeys) AS band FROM sigs),
       |pairs AS (SELECT DISTINCT a.did AS id_a, b.did AS id_b
       |  FROM banded ba JOIN banded bb
       |    ON ba.band = bb.band AND ba.did < bb.did
       |  JOIN sigs a ON a.did = ba.did JOIN sigs b ON b.did = bb.did
       |  WHERE $est >= 0.5),
       |edges AS (SELECT id_a AS s, id_b AS d FROM pairs
       |  UNION SELECT id_b, id_a FROM pairs),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM $src
       |  UNION
       |  SELECT e.s, reach.r FROM edges e JOIN reach ON e.d = reach.id),
       |clust AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach
       |  GROUP BY id)""".stripMargin
  }

  private val clustersCteSql: String = clustersCte("documents")

  /** The Spark side of [[clustersCteSql]]. */
  private def clustersDf(s: org.apache.spark.sql.SparkSession,
                         d: String): org.apache.spark.sql.DataFrame = {
    val docsDf = documents(s, d)
    val pairs = Dedup.minhashLshPairs(docsDf, "doc_id", "text",
      n = 3, k = 24, bands = 6, threshold = 0.5)
    Dedup.clusters(docsDf, "doc_id", pairs)
  }

  val all: Seq[Q] = Seq(

    // ---- text analysis ------------------------------------------------
    Q("ext_tok_stats",
      s"""SELECT doc_id,
         | CAST(len($TOKS) AS BIGINT) AS n_tokens,
         | CAST(len(list_distinct($TOKS)) AS BIGINT) AS n_distinct,
         | CAST(length(text) AS BIGINT) AS n_chars,
         | CAST(list_sum(list_transform($TOKS, x -> len(x))) AS DOUBLE)
         |   / CAST(len($TOKS) AS DOUBLE) AS avg_token_len,
         | CAST(len(regexp_extract_all(text,
         |   '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS BIGINT) AS bpeish_tokens
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      TextAnalysis.tokenStats(documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    // Unicode script profile over synthetically code-switched text
    // (each doc gets a Han/Cyrillic/Kana/Arabic suffix by residue; one
    // branch repeats the Han run 60× so dominance actually flips away
    // from Latin): per-script counts via the identical regexp class
    // on both engines, fractions as single exact integer divisions,
    // dominant script through the same strictly-greater running-max
    // fold.
    Q("ext_script_profile", {
      val names = TextAnalysis.scripts.map(_._1)
      val hanBig = " 你好世界" * 60
      val cnts = TextAnalysis.scripts.map { case (n, cls) =>
        s"length(txt) - length(regexp_replace(txt, '[$cls]', '', 'g'))" +
          s" AS n_$n"
      }.mkString(",\n|   ")
      val folds = names.tail.zipWithIndex.map { case (n, i) =>
        s"f${i + 1} AS (SELECT *, CASE WHEN n_$n > m$i THEN '$n' " +
          s"ELSE b$i END AS b${i + 1}, greatest(n_$n, m$i) AS " +
          s"m${i + 1} FROM f$i)"
      }.mkString(",\n|")
      val last = names.size - 1
      s"""WITH base AS (SELECT doc_id, text ||
         |  CASE doc_id % 5 WHEN 0 THEN '' WHEN 1 THEN ' 你好世界'
         |   WHEN 2 THEN ' привет мир' WHEN 3 THEN '$hanBig'
         |   ELSE ' مرحبا こんにちは' END AS txt FROM documents),
         |s AS (SELECT doc_id, length(txt) AS n_chars,
         |   $cnts
         |  FROM base),
         |f0 AS (SELECT *, CASE WHEN n_latin > 0 THEN 'latin'
         |  ELSE 'other' END AS b0, n_latin AS m0 FROM s),
         |$folds
         |SELECT doc_id, n_chars,
         | ${names.map(n => s"n_$n, " +
             s"CAST(n_$n AS DOUBLE) / CAST(n_chars AS DOUBLE) AS frac_$n")
             .mkString(",\n| ")},
         | b$last AS dominant_script
         |FROM f$last ORDER BY doc_id""".stripMargin
    }) { (sp, dir) =>
      val hanBig = " 你好世界" * 60
      val suffix = when(pmod(col("doc_id"), lit(5)) === 0, lit(""))
        .when(pmod(col("doc_id"), lit(5)) === 1, lit(" 你好世界"))
        .when(pmod(col("doc_id"), lit(5)) === 2, lit(" привет мир"))
        .when(pmod(col("doc_id"), lit(5)) === 3, lit(hanBig))
        .otherwise(lit(" مرحبا こんにちは"))
      TextAnalysis.scriptProfile(
          documents(sp, dir).select(col("doc_id"),
            concat(col("text"), suffix).as("text")),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    Q("ext_lang_id", {
      val langs = TextAnalysis.stopwords.map(_._1)
      val folds = langs.tail.zipWithIndex.map { case (lang, i) =>
        val (ph, pl) = (s"h$i", s"l$i")
        val sc = stopSql(lang)
        s"f${i + 1} AS (SELECT doc_id, " +
          s"CASE WHEN s.$lang > $ph THEN s.$lang ELSE $ph END AS h${i + 1}, " +
          s"CASE WHEN s.$lang > $ph THEN '$lang' ELSE $pl END AS l${i + 1} " +
          s"FROM f$i JOIN s USING (doc_id))"
      }
      val n = langs.size - 1
      s"""WITH s AS (SELECT doc_id,
         | ${langs.map(l => s"${stopSql(l)} AS $l").mkString(", ")}
         | FROM documents),
         |f0 AS (SELECT doc_id, ${langs.head} AS h0, '${langs.head}' AS l0 FROM s),
         |${folds.mkString(",\n")}
         |SELECT doc_id, l$n AS pred_lang, CAST(h$n AS BIGINT) AS hits
         |FROM f$n ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      TextAnalysis.languageId(documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    Q("ext_quality",
      s"""SELECT doc_id, $qualitySql AS quality
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      TextAnalysis.qualityScore(documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    // Quality-annealed curriculum interleave: per-source quality rank,
    // then the GLOBAL round-robin position computed closed-form from
    // the per-source counts (no global sort on the engine side). The
    // oracle states the semantic ground truth directly — global_pos
    // IS the index under ORDER BY (grp_rank, source) — so any error
    // in the Σ min(r−1, n) + earlier-same-rank formula breaks the
    // hash.
    Q("ext_curriculum",
      s"""WITH q AS (SELECT doc_id, source, $qualitySql AS quality
         |  FROM documents),
         |r AS (SELECT doc_id, source,
         |   row_number() OVER (PARTITION BY source
         |     ORDER BY quality DESC, doc_id) AS grp_rank FROM q)
         |SELECT doc_id, source, CAST(grp_rank AS BIGINT) AS grp_rank,
         | CAST(row_number() OVER (ORDER BY grp_rank, source) - 1
         |   AS BIGINT) AS global_pos
         |FROM r ORDER BY doc_id""".stripMargin) { (s, d) =>
      val withQ = documents(s, d).select(col("doc_id"), col("source"),
        TextAnalysis.qualityCol(col("text")).as("quality"))
      Corpus.curriculumOrder(withQ, "source", "doc_id", "quality")
        .select(col("doc_id"), col("source"), col("grp_rank"),
          col("global_pos"))
        .orderBy(col("doc_id"))
    },

    // Char-trigram LM perplexity scoring (the KenLM-style quality
    // filter): train the trigram model on the corpus itself, charge
    // each doc the add-one-smoothed avg negative log-likelihood. The
    // fx convention keeps the ln-sum order-independent and exact.
    Q("ext_charlm_score",
      s"""WITH $charLmModelSql,
         |sc AS (SELECT o.doc_id,
         |   CAST(sum(o.m) AS BIGINT) AS n_trigrams,
         |   ${charLmQSql("c.c3", "g.c2")} AS q
         |  FROM lm_occ_by_key o
         |  JOIN lm_c3 c USING (tri)
         |  JOIN lm_c2 g ON g.ctx = substr(o.tri, 1, 2), lm_t
         |  GROUP BY 1)
         |SELECT doc_id, n_trigrams,
         | CAST(q AS DOUBLE) / 1000000.0 / CAST(n_trigrams AS DOUBLE)
         |   AS avg_nll
         |FROM sc ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = documents(s, d)
      TextAnalysis.charLmScore(docs, docs, "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    // Interpolated Kneser-Ney BIGRAM scoring (the CCNet-style word-level
    // perplexity filter): every count CTE (bigram, context totals +
    // follow types, continuation types, T/V) and the exact double
    // expression tree are mirrored op-for-op, with per-term 1e-6
    // fixed-point quantization making the per-doc ln-sum
    // order-independent on both engines.
    Q("ext_kn_score", {
      import OracleSql.fxSql
      s"""WITH tok AS (SELECT doc_id, $TOKS AS t FROM documents),
         |bg AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS bg
         |  FROM tok, unnest(range(1, len(t))) u(i) WHERE len(t) >= 2),
         |cb AS (SELECT bg, count(*) AS c12 FROM bg GROUP BY 1),
         |ctx AS (SELECT split_part(bg, ' ', 1) AS w1, sum(c12) AS c1,
         |   count(*) AS n1f FROM cb GROUP BY 1),
         |cont AS (SELECT split_part(bg, ' ', 2) AS w2, count(*) AS n1c
         |  FROM cb GROUP BY 1),
         |tt AS (SELECT (SELECT count(*) FROM cb) AS tcnt,
         |  (SELECT count(DISTINCT tk) FROM
         |    (SELECT unnest(t) AS tk FROM tok)) AS vcnt),
         |occ AS (SELECT doc_id, bg, count(*) AS m FROM bg GROUP BY 1, 2),
         |pr AS (SELECT doc_id, m,
         |   CASE WHEN c1 > 0 THEN
         |    (greatest(CAST(c12 AS DOUBLE) - 0.75, 0.0) +
         |      0.75 * CAST(n1f AS DOUBLE) * pc) / CAST(c1 AS DOUBLE)
         |   ELSE pc END AS p
         |  FROM (SELECT o.doc_id, o.m,
         |    coalesce(cb.c12, 0) AS c12, coalesce(ctx.c1, 0) AS c1,
         |    coalesce(ctx.n1f, 0) AS n1f,
         |    (CAST(coalesce(cont.n1c, 0) AS DOUBLE) + 1.0) /
         |      (CAST(tcnt AS DOUBLE) + CAST(vcnt AS DOUBLE) + 1.0) AS pc
         |   FROM occ o
         |   LEFT JOIN cb USING (bg)
         |   LEFT JOIN ctx ON ctx.w1 = split_part(o.bg, ' ', 1)
         |   LEFT JOIN cont ON cont.w2 = split_part(o.bg, ' ', 2)
         |   CROSS JOIN tt)),
         |sc AS (SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_bigrams,
         |   ${fxSql("CAST(m AS DOUBLE) * (-ln(p))", "1000000.0")} AS q
         |  FROM pr GROUP BY 1)
         |SELECT doc_id, n_bigrams,
         | CAST(q AS DOUBLE) / 1000000.0 / CAST(n_bigrams AS DOUBLE)
         |   AS avg_nll
         |FROM sc ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      val docs = documents(s, d)
      TextAnalysis.knBigramScore(docs, docs, "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    // Interpolated Kneser-Ney TRIGRAM scoring with bigram backoff —
    // the standard-order perplexity filter. Same mirror-op-for-op
    // technique as ext_kn_score, one order deeper: every model CTE
    // (trigram types, (w1 w2) context totals + follow types, "w2 w3"
    // continuation types, middle-word type totals, the bigram backoff
    // tables, T/V) is integer-exact on both engines, and the nested
    // pbo→p double tree is written in the identical operation order.
    // `minCount` mirrors knTrigramScore's type-table pruning: the ct
    // CTE gets a HAVING cut, and every model CTE derives from the
    // pruned table — exactly the Spark-side consumer order.
    Q("ext_kn3_score", kn3Sql(minCount = 1)) { (s, d) =>
      val docs = documents(s, d)
      TextAnalysis.knTrigramScore(docs, docs, "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    // The pruned-model twin (minCount = 2): hapax trigram types leave
    // the type table, their mass re-routes through the bigram backoff
    // — the standard count-cutoff pruning that keeps the 100 TB type
    // table Zipf-proof. Hash-green here proves the pruned model is
    // bit-reproducible, not merely approximate.
    Q("ext_kn3_pruned", kn3Sql(minCount = 2)) { (s, d) =>
      val docs = documents(s, d)
      TextAnalysis.knTrigramScore(docs, docs, "doc_id", "text",
          minCount = 2)
        .orderBy(col("doc_id"))
    },

    // Cross-lingual held-out scoring: the model trains on English docs
    // only and each LANGUAGE is scored as one group — English lowest,
    // the rest ranked by script distance, with zh exercising the
    // fully-unseen smoothing path (every term ln(T) − ln(c₃+1) with
    // c₃ = 0 for unseen trigrams and c₂ = 0 contexts). Group-level
    // aggregation keeps the float work inside the exact fx sums.
    Q("ext_charlm_crossling",
      s"""WITH $charLmCrosslingModelSql,
         |sc AS (SELECT o.lang,
         |   CAST(sum(o.m) AS BIGINT) AS n_trigrams,
         |   ${charLmQSql("COALESCE(c.c3, 0)", "COALESCE(g.c2, 0)")} AS q
         |  FROM lm_occ_by_key o
         |  LEFT JOIN lm_c3 c USING (tri)
         |  LEFT JOIN lm_c2 g ON g.ctx = substr(o.tri, 1, 2), lm_t
         |  GROUP BY 1)
         |SELECT lang, n_trigrams,
         | CAST(q AS DOUBLE) / 1000000.0 / CAST(n_trigrams AS DOUBLE)
         |   AS avg_nll
         |FROM sc ORDER BY lang""".stripMargin) { (s, d) =>
      val docs = documents(s, d)
      TextAnalysis.charLmScore(docs.filter(col("lang") === "en"),
          docs, "lang", "text")
        .orderBy(col("lang"))
    },

    Q("ext_fingerprint",
      s"""SELECT doc_id,
         | $normMd5Sql AS exact_fp,
         | coalesce(list_min(list_transform(${shSql(3)}, s -> md5(s))), '')
         |   AS shingle_fp
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      TextAnalysis.fingerprints(documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    // Winnowing fingerprints (the MOSS passage-localization
    // algorithm): char-5-gram hashes, window of 4, min per window
    // with rightmost tie — the oracle replays the hash grid, the
    // per-window rightmost-argmin (ORDER BY h ASC, i DESC) and the
    // repeated-pick dedup. Any drift in the tie rule or window
    // arithmetic breaks the hash.
    Q("ext_winnow", {
      val (k, w) = (5, 4)
      s"""WITH d0 AS (SELECT doc_id, lower(text) AS t,
         |   length(lower(text)) - ${k - 1} AS n FROM documents),
         |g AS (SELECT doc_id, CAST(i AS BIGINT) AS i,
         |   ${h32(s"substr(t, CAST(i AS INT), $k)")} AS h
         |  FROM d0, unnest(range(1, n + 1)) u(i) WHERE n >= 1),
         |p AS (SELECT doc_id, CAST(j AS BIGINT) AS j
         |  FROM d0, unnest(range(1, n - ${w - 1} + 1)) u(j)
         |  WHERE n >= $w),
         |c AS (SELECT p.doc_id, p.j, g.i, g.h
         |  FROM p JOIN g ON g.doc_id = p.doc_id
         |   AND g.i BETWEEN p.j AND p.j + ${w - 1}),
         |pick AS (SELECT doc_id, i, h FROM (
         |  SELECT c.*, row_number() OVER (PARTITION BY doc_id, j
         |    ORDER BY h ASC, i DESC) AS rn FROM c) WHERE rn = 1)
         |SELECT DISTINCT doc_id, i AS pos, h AS fp
         |FROM pick ORDER BY doc_id, pos, fp""".stripMargin
    }) { (s, d) =>
      TextAnalysis.winnow(documents(s, d), "doc_id", "text",
          k = 5, w = 4)
        .orderBy(col("doc_id"), col("pos"), col("fp"))
    },

    // The MOSS passage-match report over the winnow index: doc pairs
    // sharing >= 3 surviving fingerprints after the hot-fp guard
    // (boilerplate fps in > 20 docs leave the index). The oracle
    // replays the winnow picks, the dedup, the frequency gate, the
    // oriented pair join and the HAVING cut.
    Q("ext_winnow_matches", {
      val (k, w, minShared, maxDf) = (5, 4, 3, 20)
      s"""WITH d0 AS (SELECT doc_id, lower(text) AS t,
         |   length(lower(text)) - ${k - 1} AS n FROM documents),
         |g AS (SELECT doc_id, CAST(i AS BIGINT) AS i,
         |   ${h32(s"substr(t, CAST(i AS INT), $k)")} AS h
         |  FROM d0, unnest(range(1, n + 1)) u(i) WHERE n >= 1),
         |p AS (SELECT doc_id, CAST(j AS BIGINT) AS j
         |  FROM d0, unnest(range(1, n - ${w - 1} + 1)) u(j)
         |  WHERE n >= $w),
         |c AS (SELECT p.doc_id, p.j, g.i, g.h
         |  FROM p JOIN g ON g.doc_id = p.doc_id
         |   AND g.i BETWEEN p.j AND p.j + ${w - 1}),
         |pick AS (SELECT doc_id, i, h FROM (
         |  SELECT c.*, row_number() OVER (PARTITION BY doc_id, j
         |    ORDER BY h ASC, i DESC) AS rn FROM c) WHERE rn = 1),
         |wf AS (SELECT DISTINCT doc_id, h AS fp FROM pick),
         |hot AS (SELECT fp FROM (SELECT fp, count(*) AS df FROM wf
         |  GROUP BY 1) WHERE df > $maxDf),
         |idx AS (SELECT wf.* FROM wf
         |  LEFT JOIN hot ON hot.fp = wf.fp WHERE hot.fp IS NULL)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         | CAST(count(*) AS BIGINT) AS n_shared
         |FROM idx a JOIN idx b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= $minShared
         |ORDER BY id_a, id_b""".stripMargin
    }) { (s, d) =>
      TextAnalysis.winnowMatches(documents(s, d), "doc_id", "text",
          k = 5, w = 4, minShared = 3, maxDocFreq = 20)
        .orderBy(col("id_a"), col("id_b"))
    },

    // The MOSS report with match EXTENTS: per qualifying pair, the
    // min/max matched k-gram start position in each doc — what a
    // reviewer opens to see the overlapping passage (chars
    // [a_from, a_to + 4]). The oracle replays the position-carrying
    // index, the distinct-doc frequency gate, the oriented pair join
    // and the extent aggregation.
    Q("ext_winnow_spans", {
      val (k, w, minShared, maxDf) = (5, 4, 3, 20)
      s"""WITH d0 AS (SELECT doc_id, lower(text) AS t,
         |   length(lower(text)) - ${k - 1} AS n FROM documents),
         |g AS (SELECT doc_id, CAST(i AS BIGINT) AS i,
         |   ${h32(s"substr(t, CAST(i AS INT), $k)")} AS h
         |  FROM d0, unnest(range(1, n + 1)) u(i) WHERE n >= 1),
         |p AS (SELECT doc_id, CAST(j AS BIGINT) AS j
         |  FROM d0, unnest(range(1, n - ${w - 1} + 1)) u(j)
         |  WHERE n >= $w),
         |c AS (SELECT p.doc_id, p.j, g.i, g.h
         |  FROM p JOIN g ON g.doc_id = p.doc_id
         |   AND g.i BETWEEN p.j AND p.j + ${w - 1}),
         |pick AS (SELECT doc_id, i, h FROM (
         |  SELECT c.*, row_number() OVER (PARTITION BY doc_id, j
         |    ORDER BY h ASC, i DESC) AS rn FROM c) WHERE rn = 1),
         |wp AS (SELECT DISTINCT doc_id, i AS pos, h AS fp FROM pick),
         |hot AS (SELECT fp FROM (SELECT fp,
         |   count(DISTINCT doc_id) AS df FROM wp
         |  GROUP BY 1) WHERE df > $maxDf),
         |idx AS (SELECT wp.* FROM wp
         |  LEFT JOIN hot ON hot.fp = wp.fp WHERE hot.fp IS NULL)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         | CAST(count(DISTINCT a.fp) AS BIGINT) AS n_shared,
         | min(a.pos) AS a_from, max(a.pos) AS a_to,
         | min(b.pos) AS b_from, max(b.pos) AS b_to
         |FROM idx a JOIN idx b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(DISTINCT a.fp) >= $minShared
         |ORDER BY id_a, id_b""".stripMargin
    }) { (s, d) =>
      TextAnalysis.winnowSpans(documents(s, d), "doc_id", "text",
          k = 5, w = 4, minShared = 3, maxDocFreq = 20)
        .orderBy(col("id_a"), col("id_b"))
    },

    // Out-of-vocabulary rate against the corpus's own top-256 token
    // head (ties to the smaller token) — the tokenizer-fit signal.
    // One exact integer division per doc; the head cut is replayed
    // with the identical (count desc, token) order.
    Q("ext_oov_rate",
      s"""WITH tk AS (SELECT doc_id, unnest($TOKS) AS tok
         |  FROM documents),
         |c AS (SELECT tok, count(*) AS c FROM tk GROUP BY 1),
         |v AS (SELECT tok, 1 AS inv FROM c
         |  ORDER BY c DESC, tok LIMIT 256)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         | CAST(sum(CASE WHEN v.inv IS NULL THEN 1 ELSE 0 END)
         |   AS BIGINT) AS n_oov,
         | CAST(sum(CASE WHEN v.inv IS NULL THEN 1 ELSE 0 END)
         |   AS DOUBLE) / CAST(count(*) AS DOUBLE) AS oov_rate
         |FROM tk LEFT JOIN v USING (tok)
         |GROUP BY 1 ORDER BY doc_id""".stripMargin) { (s, d) =>
      TextAnalysis.oovRate(documents(s, d), "doc_id", "text",
          vocabSize = 256)
        .orderBy(col("doc_id"))
    },

    // Unicode canonicalization + control-char scrub — the first pass of
    // any web-scale ingest (decomposed accents must dedup with their
    // composed twins; stray C0/C1 bytes break downstream tokenizers).
    // NFC runs through the codegen NfcNormalize expression; DuckDB's
    // utf8proc nfc_normalize is the oracle twin.
    Q("ext_unicode_clean",
      """SELECT doc_id,
        | regexp_replace(nfc_normalize(text),
        |   '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g') AS clean_text,
        | (regexp_replace(nfc_normalize(text),
        |   '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g') != text)
        |   AS was_changed
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      val clean = regexp_replace(
        graft.functions.TextFns.nfc(col("text")),
        "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", "")
      documents(s, d).select(col("doc_id"), clean.as("clean_text"),
          (clean =!= col("text")).as("was_changed"))
        .orderBy(col("doc_id"))
    },

    Q("ext_repetition", {
      val n = 2
      val gramsSql = s"list_transform(range(1, len($TOKS) - ${n - 2}), " +
        s"i -> array_to_string(($TOKS)[i:i+${n - 1}], ' '))"
      s"""WITH g AS (SELECT doc_id, unnest($gramsSql) AS gram
         |  FROM documents WHERE len($TOKS) >= $n),
         |cnt AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2)
         |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_ngrams,
         | CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS top_ngram_frac,
         | CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)
         |   / CAST(sum(c) AS DOUBLE) AS dup_ngram_frac
         |FROM cnt GROUP BY doc_id ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      TextAnalysis.repetition(documents(s, d), "doc_id", "text", n = 2)
        .orderBy(col("doc_id"))
    },

    // ---- PII scrubbing --------------------------------------------------
    Q("ext_pii_detect", {
      val counts = Pii.patterns.map { case (l, p) =>
        s"CAST(len(regexp_extract_all(text, '$p')) AS BIGINT) AS n_$l"
      }.mkString(",\n ")
      val total = Pii.patterns.map(p => s"n_${p._1}").mkString(" + ")
      s"""WITH t AS (SELECT c_custkey, $piiTextSql AS text FROM customer),
         |c AS (SELECT c_custkey, $counts FROM t)
         |SELECT c.*, $total AS pii_total FROM c
         |ORDER BY c_custkey""".stripMargin
    }) { (s, d) =>
      Pii.detect(customer(s, d).withColumn("text", piiTextCol),
          "c_custkey", "text")
        .orderBy(col("c_custkey"))
    },

    Q("ext_pii_redact", {
      val redacted = Pii.patterns.foldLeft("text") { case (acc, (l, p)) =>
        s"regexp_replace($acc, '$p', '<${l.toUpperCase}>', 'g')"
      }
      s"""WITH t AS (SELECT c_custkey, $piiTextSql AS text FROM customer)
         |SELECT c_custkey, $redacted AS redacted FROM t
         |ORDER BY c_custkey""".stripMargin
    }) { (s, d) =>
      Pii.redacted(customer(s, d).withColumn("text", piiTextCol),
          "c_custkey", "text")
        .orderBy(col("c_custkey"))
    },

    // ---- corpus curation: the operators COMPOSED ------------------------
    // The user-story pipeline a training-data curator actually runs:
    // quality-gate → exact-dedup keep-canonical → per-doc token budget.
    // One shuffle chain (quality is a narrow pass; dedup is one
    // hash-groupBy; the canonical join is an equi-join) — composing the
    // operators adds no new shuffle shapes at any scale.
    Q("ext_curate_corpus",
      s"""WITH scored AS (
         | SELECT doc_id, text, $qualitySql AS quality
         | FROM documents),
         |kept AS (SELECT * FROM scored WHERE quality >= 0.5),
         |canon AS (
         | SELECT min(doc_id) AS doc_id FROM kept
         | GROUP BY $normMd5Sql)
         |SELECT k.doc_id, k.quality,
         | CAST(len($TOKS) AS BIGINT) AS n_tokens
         |FROM kept k JOIN canon c ON k.doc_id = c.doc_id
         |ORDER BY k.doc_id""".stripMargin) { (s, d) =>
      val docs = documents(s, d)
      // quality is a narrow Column (bit-identical to qualityScore) —
      // attaching it via a doc_id self-join would shuffle and scan the
      // corpus twice for a value computable inside the same projection
      val kept = docs
        .withColumn("quality", TextAnalysis.qualityCol(col("text")))
        .filter(col("quality") >= 0.5)
      // canonical selection as ONE min-struct hash-agg (the payload
      // rides in the struct) — no join back, no second corpus scan
      Dedup.exactSurvivors(kept, "doc_id", "text")
        .select(col("doc_id"), col("quality"),
          size(graft.functions.TextFns.toks(col("text"))).cast("long")
            .as("n_tokens"))
        .orderBy(col("doc_id"))
    },

    // ---- full pipeline: gate → dedup → decontaminate → pack -------------
    // The whole training-data path as ONE declarative plan: quality
    // gate (>= 0.5), exact-dedup canonical selection, benchmark
    // decontamination against the 10% eval hash-sample (5-grams),
    // sequence packing at 64 tokens. Catalyst fuses the narrow stages;
    // every shuffle is keyed (norm-hash, gram, bucket, doc).
    Q("ext_pipeline_e2e", {
      val n = 5; val L = 64
      val samp = s"${h32("CAST(doc_id AS VARCHAR)")} % 100 < 10"
      s"""WITH scored AS (SELECT doc_id, text FROM documents
         |  WHERE $qualitySql >= 0.5),
         |canon AS (SELECT min(doc_id) AS doc_id FROM scored
         |  GROUP BY $normMd5Sql),
         |keptc AS (SELECT s.doc_id, s.text FROM scored s
         |  JOIN canon c USING (doc_id)),
         |eg AS (SELECT DISTINCT unnest(${shSql(n)}) AS gram
         |  FROM documents WHERE ($samp) AND len($TOKS) >= $n),
         |tr AS (SELECT doc_id, text, ${shSql(n)} AS g FROM keptc
         |  WHERE NOT ($samp) AND len($TOKS) >= $n),
         |hit AS (SELECT DISTINCT t.doc_id
         |  FROM (SELECT doc_id, unnest(g) AS gram FROM tr) t
         |  JOIN eg USING (gram)),
         |clean AS (SELECT tr.doc_id, tr.text FROM tr
         |  LEFT JOIN hit ON tr.doc_id = hit.doc_id
         |  WHERE hit.doc_id IS NULL),
         |nn AS (SELECT doc_id, $TOKS AS tk,
         |  CAST(len($TOKS) AS BIGINT) AS n FROM clean),
         |o AS (SELECT doc_id, tk, n,
         |  CAST(coalesce(sum(n) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    AS BIGINT) AS off
         | FROM nn),
         |p AS (SELECT doc_id, n, off, CAST(s AS BIGINT) AS seq_id,
         |   CAST(greatest(s*$L - off, 0) AS BIGINT) AS st,
         |   CAST(least((s+1)*$L - off, n) AS BIGINT) AS en
         |  FROM o, unnest(range(off // $L, (off + n - 1) // $L + 1))
         |    AS u(s))
         |SELECT doc_id, seq_id,
         | st + 1 AS doc_tok_start,
         | off + st - seq_id*$L + 1 AS seq_tok_start,
         | en - st AS piece_len
         |FROM p ORDER BY doc_id, seq_id""".stripMargin
    }) { (s, d) =>
      val docs = documents(s, d)
      val kept = docs
        .withColumn("quality", TextAnalysis.qualityCol(col("text")))
        .filter(col("quality") >= 0.5)
      val keptCanon = Dedup.exactSurvivors(kept, "doc_id", "text")
        .select(col("doc_id"), col("text"))
      val samp = TextFns.hash32(col("doc_id").cast("string")) % 100 < 10
      val train = keptCanon.filter(!samp)
      val clean = train.join(
        Corpus.decontaminate(train, docs.filter(samp), "doc_id", "text",
            n = 5)
          .filter(!col("contaminated")).select(col("doc_id")),
        Seq("doc_id"))
      Corpus.packSequences(clean, "doc_id", "text", seqLen = 64)
        .select(col("doc_id"), col("seq_id"), col("doc_tok_start"),
          col("seq_tok_start"), col("piece_len"))
        .orderBy(col("doc_id"), col("seq_id"))
    },

    // ---- near-dup pipeline: gate → LSH clusters → canonical → chunk ----
    // The heavy NEAR-dup path composed end to end as one hash-gated
    // plan (ext_pipeline_e2e composes the exact-dup path): quality
    // gate, MinHash-LSH clustering over the kept docs, quality-
    // preferred canonical selection, context-window chunking of the
    // survivors. Every stage reuses the shared oracle fragments, so
    // this cannot drift from the per-operator queries.
    Q("ext_pipeline_neardup", {
      val (mx, ov) = (48, 8); val st = mx - ov
      s"""WITH RECURSIVE kept AS (
         |  SELECT doc_id, text, $qualitySql AS quality FROM documents
         |  WHERE $qualitySql >= 0.5),
         |${clustersCte("kept")},
         |m AS (SELECT c.doc_id, c.cluster_id, k.quality
         |  FROM clust c JOIN kept k USING (doc_id)),
         |b AS (SELECT cluster_id, doc_id AS canonical_id FROM (
         |  SELECT cluster_id, doc_id, row_number() OVER (
         |    PARTITION BY cluster_id ORDER BY quality DESC, doc_id)
         |    AS rn FROM m) WHERE rn = 1),
         |canon AS (SELECT m.doc_id FROM m JOIN b USING (cluster_id)
         |  WHERE m.doc_id = b.canonical_id),
         |t AS (SELECT k.doc_id, $TOKS AS tk
         |  FROM kept k JOIN canon USING (doc_id)),
         |c AS (SELECT doc_id, CAST(ci AS INT) AS chunk_idx,
         |  tk[ci*$st+1:ci*$st+$mx] AS ct
         | FROM t, unnest(range(0, greatest(
         |   CAST(ceil((len(tk) - $ov)/$st.0) AS INT), 1))) AS u(ci))
         |SELECT doc_id, chunk_idx, CAST(len(ct) AS BIGINT)
         |  AS n_chunk_tokens
         |FROM c ORDER BY doc_id, chunk_idx""".stripMargin
    }) { (s, d) =>
      // the gated corpus feeds FOUR consumers (signature build, cluster
      // singleton attach, quality join, chunk) — checkpoint it once so
      // the gate+quality projection doesn't run per consumer (same
      // eager-reuse pattern as packSequences; ContextCleaner releases
      // the blocks when the result is unreachable)
      val kept = documents(s, d)
        .withColumn("quality", TextAnalysis.qualityCol(col("text")))
        .filter(col("quality") >= 0.5)
        .localCheckpoint()
      val pairs = Dedup.minhashLshPairs(kept, "doc_id", "text",
        n = 3, k = 24, bands = 6, threshold = 0.5)
      val canon = Dedup.selectCanonical(
          Dedup.clusters(kept, "doc_id", pairs)
            .join(kept.select(col("doc_id"), col("quality")), "doc_id"),
          "doc_id", "quality")
        .filter(col("keep")).select(col("doc_id"))
      Corpus.chunk(kept.join(canon, Seq("doc_id")), "doc_id", "text",
          maxTokens = 48, overlap = 8)
        .select(col("doc_id"), col("chunk_idx"), col("n_chunk_tokens"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    },

    // ---- dedup family --------------------------------------------------
    Q("ext_dedup_exact",
      s"""SELECT $normMd5Sql AS text_hash,
         | min(doc_id) AS canonical_id, count(*) AS group_size
         |FROM documents GROUP BY 1 ORDER BY text_hash""".stripMargin) {
      (s, d) =>
        Dedup.exact(documents(s, d), "doc_id", "text")
          .orderBy(col("text_hash"))
    },

    // Duplication-profile reporting over a deterministically
    // dup-augmented view (the sf fixtures are dup-free, so both
    // engines re-insert the 10% hash sample under shifted ids):
    // cluster-size histogram — the curation dashboard's first chart.
    Q("ext_dedup_histogram", {
      val samp = s"${h32("CAST(doc_id AS VARCHAR)")} % 100 < 10"
      s"""WITH aug AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000 AS doc_id, text FROM documents
         |  WHERE $samp),
         |g AS (SELECT $normMd5Sql AS h, count(*) AS group_size
         |  FROM aug GROUP BY 1)
         |SELECT group_size, CAST(count(*) AS BIGINT) AS n_groups,
         | CAST(sum(group_size) AS BIGINT) AS n_docs
         |FROM g GROUP BY 1 ORDER BY group_size""".stripMargin
    }) { (s, d) =>
      val docs0 = documents(s, d).select(col("doc_id"), col("text"))
      val aug = docs0.unionByName(
        Corpus.sampleByHash(docs0, "doc_id", 10)
          .withColumn("doc_id", col("doc_id") + 1000000L))
      Dedup.exact(aug, "doc_id", "text")
        .groupBy(col("group_size"))
        .agg(count(lit(1)).as("n_groups"),
          sum(col("group_size")).as("n_docs"))
        .orderBy(col("group_size"))
    },

    // Per-source curation scorecard over the same augmented view:
    // volume, exact-dup burden and language spread per source — the
    // governance query a 100 TB ingest runs nightly. One hash-agg
    // keyed by source; the distinct counts expand inside the agg.
    Q("ext_source_scorecard", {
      val samp = s"${h32("CAST(doc_id AS VARCHAR)")} % 100 < 10"
      s"""WITH aug AS (
         |  SELECT doc_id, text, lang, source, n_chars FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000 AS doc_id, text, lang, source,
         |    n_chars FROM documents WHERE $samp)
         |SELECT source,
         | CAST(count(*) AS BIGINT) AS n_docs,
         | CAST(count(DISTINCT $normMd5Sql) AS BIGINT) AS n_distinct,
         | CAST(count(*) - count(DISTINCT $normMd5Sql) AS BIGINT)
         |   AS dup_docs,
         | CAST(sum(n_chars) AS BIGINT) AS chars_total,
         | CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
         |FROM aug GROUP BY source ORDER BY source""".stripMargin
    }) { (s, d) =>
      val docs0 = documents(s, d)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
      val aug = docs0.unionByName(
        Corpus.sampleByHash(docs0, "doc_id", 10)
          .withColumn("doc_id", col("doc_id") + 1000000L))
      val h = md5(TextFns.normText(col("text")))
      aug.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(h).as("n_distinct"),
          (count(lit(1)) - countDistinct(h)).as("dup_docs"),
          sum(col("n_chars")).as("chars_total"),
          countDistinct(col("lang")).as("n_langs"))
        .orderBy(col("source"))
    },

    // Per-source token-distribution drift vs the corpus (total-
    // variation distance + the most drifting token) — the ingest
    // mixture-health check. The oracle's per-source sums run through
    // the same fixed-point quantization as the engine, so tv_dist is
    // bit-exact; the engine finds the top token with a min-struct
    // inside the same hash-agg where the oracle uses a window — same
    // (diff DESC, token ASC) order, no plan coupling.
    Q("ext_source_drift",
      s"""WITH tok AS (SELECT source, unnest($TOKS) AS token
         |  FROM documents),
         |gc AS (SELECT source, token, CAST(count(*) AS BIGINT) AS c
         |  FROM tok GROUP BY 1, 2),
         |gt AS (SELECT source, CAST(sum(c) AS BIGINT) AS n
         |  FROM gc GROUP BY 1),
         |tc AS (SELECT token, CAST(sum(c) AS BIGINT) AS g
         |  FROM gc GROUP BY 1),
         |tot AS (SELECT CAST(sum(c) AS BIGINT) AS ntot FROM gc),
         |j AS (SELECT gc.source, gc.token,
         |   CAST(gc.c AS DOUBLE) / CAST(gt.n AS DOUBLE) AS ps,
         |   CAST(tc.g AS DOUBLE) / CAST(tot.ntot AS DOUBLE) AS pg
         |  FROM gc JOIN gt USING (source) JOIN tc USING (token)
         |  CROSS JOIN tot),
         |a AS (SELECT source,
         |   ${fxSql("abs(ps - pg)", "1000000000000.0")} AS sa,
         |   ${fxSql("pg", "1000000000000.0")} AS sb
         |  FROM j GROUP BY source),
         |top AS (SELECT source, token AS top_token,
         |   abs(ps - pg) AS top_diff
         |  FROM (SELECT source, token, ps, pg, row_number() OVER (
         |     PARTITION BY source ORDER BY abs(ps - pg) DESC, token)
         |     AS rn FROM j) WHERE rn = 1)
         |SELECT a.source, gt.n AS n_tokens,
         | 0.5 * (CAST(sa AS DOUBLE) / 1000000000000.0 + 1.0 -
         |        CAST(sb AS DOUBLE) / 1000000000000.0) AS tv_dist,
         | top_token, top_diff
         |FROM a JOIN gt USING (source) JOIN top USING (source)
         |ORDER BY a.source""".stripMargin) { (s, d) =>
      TextAnalysis.sourceDrift(documents(s, d), "source", "text")
        .orderBy(col("source"))
    },

    Q("ext_dedup_jaccard",
      s"""WITH sh AS (SELECT doc_id AS did, unnest(${shSql(3)}) AS sh
         |  FROM documents),
         |cnt AS (SELECT did, count(*) AS nsh FROM sh GROUP BY did),
         |inter AS (SELECT a.did AS id_a, b.did AS id_b, count(*) AS i
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.did < b.did
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b,
         | CAST(i AS DOUBLE) / CAST(ca.nsh + cb.nsh - i AS DOUBLE) AS jaccard
         |FROM inter
         |JOIN cnt ca ON id_a = ca.did JOIN cnt cb ON id_b = cb.did
         |WHERE CAST(i AS DOUBLE) / CAST(ca.nsh + cb.nsh - i AS DOUBLE) >= 0.5
         |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      Dedup.jaccardPairs(documents(s, d), "doc_id", "text",
          n = 3, threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))
    },

    // Asymmetric containment — partial-copy/quote detection where
    // symmetric Jaccard scores a full embedding of a short doc as tiny
    Q("ext_containment",
      s"""WITH sh AS (SELECT doc_id AS did, unnest(${shSql(3)}) AS sh
         |  FROM documents),
         |cnt AS (SELECT did, CAST(count(*) AS BIGINT) AS nsh FROM sh
         |  GROUP BY did),
         |inter AS (SELECT a.did AS id_a, b.did AS id_b,
         |  CAST(count(*) AS BIGINT) AS i
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.did < b.did
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b, i AS inter, ca.nsh AS nsh_a, cb.nsh AS nsh_b,
         | CAST(i AS DOUBLE) / CAST(ca.nsh AS DOUBLE) AS cont_a,
         | CAST(i AS DOUBLE) / CAST(cb.nsh AS DOUBLE) AS cont_b
         |FROM inter
         |JOIN cnt ca ON id_a = ca.did JOIN cnt cb ON id_b = cb.did
         |WHERE greatest(CAST(i AS DOUBLE) / CAST(ca.nsh AS DOUBLE),
         |  CAST(i AS DOUBLE) / CAST(cb.nsh AS DOUBLE)) >= 0.6
         |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      Dedup.containmentPairs(documents(s, d), "doc_id", "text",
          n = 3, threshold = 0.6)
        .orderBy(col("id_a"), col("id_b"))
    },

    // Subset REMOVAL over the same containment frame (the apply step
    // ext_containment only measures): a doc ≥60% contained in a larger
    // doc drops, the superset survives, ties by smaller id, best
    // absorber by (containment desc, size desc, id) — every direction
    // and tie-break replayed in the oracle.
    Q("ext_drop_contained",
      s"""WITH sh AS (SELECT doc_id AS did, unnest(${shSql(3)}) AS sh
         |  FROM documents),
         |cnt AS (SELECT did, CAST(count(*) AS BIGINT) AS nsh FROM sh
         |  GROUP BY did),
         |pr AS (SELECT a2.id_a, a2.id_b, ca.nsh AS nsh_a, cb.nsh AS nsh_b,
         |  CAST(a2.i AS DOUBLE) / CAST(ca.nsh AS DOUBLE) AS cont_a,
         |  CAST(a2.i AS DOUBLE) / CAST(cb.nsh AS DOUBLE) AS cont_b
         | FROM (SELECT a.did AS id_a, b.did AS id_b,
         |    CAST(count(*) AS BIGINT) AS i
         |   FROM sh a JOIN sh b ON a.sh = b.sh AND a.did < b.did
         |   GROUP BY 1, 2) a2
         | JOIN cnt ca ON a2.id_a = ca.did
         | JOIN cnt cb ON a2.id_b = cb.did),
         |dir AS (
         | SELECT id_a AS x, id_b AS y, cont_a AS c, nsh_b AS ny FROM pr
         |  WHERE cont_a >= 0.6 AND (nsh_b > nsh_a OR
         |    (nsh_b = nsh_a AND id_b < id_a))
         | UNION ALL
         | SELECT id_b, id_a, cont_b, nsh_a FROM pr
         |  WHERE cont_b >= 0.6 AND (nsh_a > nsh_b OR
         |    (nsh_a = nsh_b AND id_a < id_b))),
         |best AS (SELECT x, y FROM (SELECT x, y, row_number() OVER (
         |   PARTITION BY x ORDER BY c DESC, ny DESC, y) AS rn FROM dir)
         |  WHERE rn = 1)
         |SELECT doc_id, y IS NULL AS kept,
         | coalesce(y, -1) AS absorbed_by
         |FROM documents LEFT JOIN best ON doc_id = x
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Dedup.dropContained(documents(s, d), "doc_id", "text",
          n = 3, threshold = 0.6)
        .orderBy(col("doc_id"))
    },

    Q("ext_dedup_minhash", {
      val k = 24; val bands = 6; val rows = k / bands
      val bandKeys = s"list_transform(range(0, $bands), b -> " +
        s"concat(b, ':', array_to_string(sig[b*$rows+1 : b*$rows+$rows], ',')))"
      s"""WITH sigs AS (SELECT doc_id AS did, ${minhashSql(3, k)} AS sig
         |  FROM documents WHERE len(${shSql(3)}) > 0),
         |banded AS (SELECT did, sig, unnest($bandKeys) AS band FROM sigs),
         |cand AS (SELECT DISTINCT a.did AS id_a, b.did AS id_b,
         |    a.sig AS sig_a, b.sig AS sig_b
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.did < b.did)
         |SELECT id_a, id_b,
         | CAST(len(list_filter(list_zip(sig_a, sig_b), x -> x[1] = x[2]))
         |   AS DOUBLE) / $k.0 AS est_jaccard
         |FROM cand
         |WHERE CAST(len(list_filter(list_zip(sig_a, sig_b), x -> x[1] = x[2]))
         |   AS DOUBLE) / $k.0 >= 0.5
         |ORDER BY id_a, id_b""".stripMargin
    }) { (s, d) =>
      Dedup.minhashLshPairs(documents(s, d), "doc_id", "text",
          n = 3, k = 24, bands = 6, threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))
    },

    // Incremental ingestion: near-dup an incoming batch against the
    // persisted banded-signature INDEX of the existing corpus (the
    // fixture splits documents 50/50 by id-hash: "old" half indexed,
    // "new" half arriving). Only new×old pairs — the production shape
    // where each batch dedups against 100 TB without re-reading it.
    Q("ext_dedup_incremental", {
      val k = 24; val bands = 6; val rows = k / bands
      val bandKeys = s"list_transform(range(0, $bands), b -> " +
        s"concat(b, ':', array_to_string(sig[b*$rows+1 : b*$rows+$rows], ',')))"
      val samp = s"${h32("CAST(doc_id AS VARCHAR)")} % 100 < 50"
      val est = s"CAST(len(list_filter(list_zip(sig_n, sig_o), " +
        s"x -> x[1] = x[2])) AS DOUBLE) / $k.0"
      s"""WITH osig AS (SELECT doc_id AS did, ${minhashSql(3, k)} AS sig
         |  FROM documents WHERE ($samp) AND len(${shSql(3)}) > 0),
         |nsig AS (SELECT doc_id AS did, ${minhashSql(3, k)} AS sig
         |  FROM documents WHERE NOT ($samp) AND len(${shSql(3)}) > 0),
         |ob AS (SELECT did, sig, unnest($bandKeys) AS band FROM osig),
         |nb AS (SELECT did, sig, unnest($bandKeys) AS band FROM nsig),
         |cand AS (SELECT DISTINCT n.did AS new_id, o.did AS old_id,
         |    n.sig AS sig_n, o.sig AS sig_o
         |  FROM nb n JOIN ob o ON n.band = o.band)
         |SELECT new_id, old_id, $est AS est_jaccard
         |FROM cand WHERE $est >= 0.5
         |ORDER BY new_id, old_id""".stripMargin
    }) { (s, d) =>
      val docs = documents(s, d)
      val samp = TextFns.hash32(col("doc_id").cast("string")) % 100 < 50
      val index = Dedup.minhashIndex(docs.filter(samp), "doc_id", "text",
        n = 3, k = 24, bands = 6)
      Dedup.incrementalMinhashPairs(docs.filter(!samp), "doc_id", "text",
          index, n = 3, k = 24, bands = 6, threshold = 0.5)
        .orderBy(col("new_id"), col("old_id"))
    },

    // Candidate-generate/verify near-dup: MinHash-LSH proposes, exact
    // Levenshtein confirms at the character level. The fixtures are
    // dup-free, so both engines re-insert a 10% hash sample under
    // shifted ids with a small deterministic edit appended — the
    // verified pairs are original↔revision with norm_sim just under 1.
    Q("ext_dedup_editdist", {
      val k = 24; val bands = 6; val rows = k / bands
      val bandKeys = s"list_transform(range(0, $bands), b -> " +
        s"concat(b, ':', array_to_string(sig[b*$rows+1 : b*$rows+$rows], ',')))"
      val samp = s"${h32("CAST(doc_id AS VARCHAR)")} % 100 < 10"
      val est = s"CAST(len(list_filter(list_zip(sig_a, sig_b), " +
        s"x -> x[1] = x[2])) AS DOUBLE) / $k.0"
      s"""WITH aug AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000 AS doc_id,
         |    text || ' rev ' || CAST(doc_id % 7 AS VARCHAR) AS text
         |  FROM documents WHERE $samp),
         |sigs AS (SELECT doc_id AS did, text, ${minhashSql(3, k)} AS sig
         |  FROM aug WHERE len(${shSql(3)}) > 0),
         |banded AS (SELECT did, sig, unnest($bandKeys) AS band FROM sigs),
         |cand AS (SELECT DISTINCT a.did AS id_a, b.did AS id_b,
         |    a.text AS ta, b.text AS tb, a.sig AS sig_a, b.sig AS sig_b
         |  FROM banded x JOIN banded y
         |    ON x.band = y.band AND x.did < y.did
         |  JOIN sigs a ON a.did = x.did JOIN sigs b ON b.did = y.did),
         |f AS (SELECT id_a, id_b, levenshtein(ta, tb) AS ed,
         |    greatest(len(ta), len(tb)) AS ml
         |  FROM cand WHERE $est >= 0.5)
         |SELECT id_a, id_b, CAST(ed AS BIGINT) AS edit_dist,
         | 1.0 - CAST(ed AS DOUBLE) / CAST(ml AS DOUBLE) AS norm_sim
         |FROM f
         |WHERE 1.0 - CAST(ed AS DOUBLE) / CAST(ml AS DOUBLE) >= 0.9
         |ORDER BY id_a, id_b""".stripMargin
    }) { (s, d) =>
      val docs0 = documents(s, d).select(col("doc_id"), col("text"))
      val aug = docs0.unionByName(
        Corpus.sampleByHash(docs0, "doc_id", 10)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(col("text"), lit(" rev "),
              (col("doc_id") % 7).cast("string")).as("text")))
      Dedup.editDistancePairs(aug, "doc_id", "text",
          n = 3, k = 24, bands = 6, threshold = 0.5, minNormSim = 0.9)
        .orderBy(col("id_a"), col("id_b"))
    },

    // Heavy-tail domain control: every source capped at its 10
    // highest-quality docs — the bounded-heap per-key top-k (no
    // per-key window sort at any corpus size).
    Q("ext_source_cap",
      s"""SELECT source, doc_id, quality, rank FROM (
         |  SELECT source, doc_id, quality, CAST(row_number() OVER (
         |    PARTITION BY source ORDER BY quality DESC, doc_id) AS INT)
         |    AS rank
         |  FROM (SELECT source, doc_id, $qualitySql AS quality
         |        FROM documents))
         |WHERE rank <= 10 ORDER BY source, rank""".stripMargin) { (s, d) =>
      val docs = documents(s, d)
        .withColumn("quality", TextAnalysis.qualityCol(col("text")))
      Corpus.capPerKey(docs, "source", "doc_id", "quality", k = 10)
        .orderBy(col("source"), col("rank"))
    },

    // Group-RELATIVE quality gating: every language keeps its own top
    // half (per-lang exact median as the cutoff) — the balanced form
    // that an absolute global threshold gets wrong for low-resource
    // languages. Spark `percentile` ≡ DuckDB `quantile_cont`.
    Q("ext_lang_quality_gate",
      s"""WITH q AS (SELECT doc_id, lang, $qualitySql AS quality
         |  FROM documents),
         |t AS (SELECT lang, quantile_cont(quality, 0.5) AS thr
         |  FROM q GROUP BY lang)
         |SELECT q.doc_id, q.lang, q.quality, t.thr
         |FROM q JOIN t USING (lang)
         |WHERE q.quality >= t.thr ORDER BY q.doc_id""".stripMargin) {
      (s, d) =>
        val docs = documents(s, d)
          .select(col("doc_id"), col("lang"),
            TextAnalysis.qualityCol(col("text")).as("quality"))
        Corpus.gateByGroupQuantile(docs, "lang", "quality", 0.5)
          .select(col("doc_id"), col("lang"), col("quality"), col("thr"))
          .orderBy(col("doc_id"))
    },

    // Corpus-versioning CDC: diff two snapshots derived
    // deterministically from the fixture (v1 lacks the id%10==0 docs,
    // v2 lacks the id%10==1 docs and edits the id%10==2 texts), so all
    // four change classes appear. The diff itself moves only
    // (id, hash) columns.
    Q("ext_snapshot_diff", {
      val curText = "CASE WHEN doc_id % 10 = 2 THEN text || ' v2' " +
        "ELSE text END"
      s"""WITH p AS (SELECT doc_id, $normMd5Sql AS hp FROM documents
         |  WHERE doc_id % 10 <> 0),
         |c AS (SELECT doc_id, ${normMd5Of(curText)} AS hc FROM documents
         |  WHERE doc_id % 10 <> 1)
         |SELECT coalesce(p.doc_id, c.doc_id) AS doc_id,
         | CASE WHEN p.doc_id IS NULL THEN 'added'
         |      WHEN c.doc_id IS NULL THEN 'removed'
         |      WHEN hp <> hc THEN 'changed' ELSE 'unchanged' END
         |   AS change
         |FROM p FULL JOIN c ON p.doc_id = c.doc_id
         |ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      val docs = documents(s, d).select(col("doc_id"), col("text"))
      val prev = docs.filter(col("doc_id") % 10 =!= 0)
      val cur = docs.filter(col("doc_id") % 10 =!= 1)
        .withColumn("text", when(col("doc_id") % 10 === 2,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      Corpus.snapshotDiff(prev, cur, "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    Q("ext_dedup_clusters",
      s"""WITH RECURSIVE $clustersCteSql
         |SELECT doc_id, cluster_id FROM clust
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      clustersDf(s, d)
        .select(col("doc_id"), col("cluster_id"))
        .orderBy(col("doc_id"))
    },

    // Canonical selection policy over the SAME clusters: keep the
    // highest-QUALITY member (ties to lowest id) instead of the
    // min-id convention — the "which duplicate do we train on" step.
    Q("ext_canonical",
      s"""WITH RECURSIVE $clustersCteSql,
         |q AS (SELECT doc_id, $qualitySql AS quality FROM documents),
         |m AS (SELECT c.doc_id, c.cluster_id, q.quality
         |  FROM clust c JOIN q USING (doc_id)),
         |b AS (SELECT cluster_id, doc_id AS canonical_id FROM (
         |  SELECT cluster_id, doc_id, row_number() OVER (
         |    PARTITION BY cluster_id ORDER BY quality DESC, doc_id)
         |    AS rn FROM m) WHERE rn = 1)
         |SELECT m.doc_id, m.cluster_id, b.canonical_id,
         | m.doc_id = b.canonical_id AS keep
         |FROM m JOIN b USING (cluster_id)
         |ORDER BY m.doc_id""".stripMargin) { (s, d) =>
      val withQ = clustersDf(s, d).join(
        TextAnalysis.qualityScore(documents(s, d), "doc_id", "text"),
        "doc_id")
      Dedup.selectCanonical(withQ, "doc_id", "quality")
        .orderBy(col("doc_id"))
    },

    // Dedup-AWARE splitting over the SAME clusters: the train/val/test
    // hash keys on cluster_id, so a near-duplicate pair can never
    // straddle the split boundary (the leakage mode per-doc hashing
    // has). The oracle replays the cluster closure and applies the
    // ext_splits hash to cluster_id.
    Q("ext_cluster_split",
      s"""WITH RECURSIVE $clustersCteSql
         |SELECT doc_id, cluster_id,
         | CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val'
         |  ELSE 'test' END AS split
         |FROM (SELECT doc_id, cluster_id,
         |  ${h32("CAST(cluster_id AS VARCHAR)")} % 100 AS h FROM clust)
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docsDf = documents(s, d)
      Dedup.clusterSplits(docsDf, "doc_id",
          Dedup.minhashLshPairs(docsDf, "doc_id", "text",
            n = 3, k = 24, bands = 6, threshold = 0.5),
          Seq("train" -> 80, "val" -> 10, "test" -> 10))
        .select(col("doc_id"), col("cluster_id"), col("split"))
        .orderBy(col("doc_id"))
    },

    // 64-bit SimHash path under a FULL oracle via the md5-prefix
    // signature twin: the oracle rebuilds each 64-bit signature from
    // the two BIGINT-safe md5 halves (hi = first 8 hex chars → bits
    // 32..63, lo = next 8 → bits 0..31) and brute-forces Hamming,
    // while the engine runs the real 8×8-band blocking plan — so the
    // banding itself is hash-verified end to end. The xxhash64
    // production signature (Dedup.simhashPairs64) shares this exact
    // plan and is property-tested against brute-force Hamming in
    // DedupSpec.
    Q("ext_dedup_simhash64", {
      val hi = "CAST('0x' || substr(md5(t), 1, 8) AS BIGINT)"
      val lo = "CAST('0x' || substr(md5(t), 9, 8) AS BIGINT)"
      def sigHalf(src: String) = (0 until 32).map { b =>
        s"(CASE WHEN sum(CASE WHEN (($src >> $b) & 1) = 1 " +
          s"THEN 1 ELSE -1 END) > 0 THEN ${1L << b} ELSE 0 END)"
      }.mkString("(", " + ", ")")
      val ham = "bit_count(xor(a.sig_lo, b.sig_lo)) " +
        "+ bit_count(xor(a.sig_hi, b.sig_hi))"
      s"""WITH tok AS (SELECT doc_id AS did, unnest($TOKS) AS t
         |  FROM documents),
         |h AS (SELECT did, $hi AS hi, $lo AS lo FROM tok),
         |sigs AS (SELECT did, ${sigHalf("lo")} AS sig_lo,
         |  ${sigHalf("hi")} AS sig_hi FROM h GROUP BY did)
         |SELECT a.did AS id_a, b.did AS id_b,
         | CAST($ham AS INT) AS hamming
         |FROM sigs a JOIN sigs b ON a.did < b.did
         |WHERE $ham <= 3
         |ORDER BY id_a, id_b""".stripMargin
    }) { (s, d) =>
      Dedup.simhashPairs64Md5(documents(s, d), "doc_id", "text",
          maxHamming = 3)
        .orderBy(col("id_a"), col("id_b"))
    },

    Q("ext_dedup_embed", {
      val b = bucketSql("a.embedding", 8)
      val b2 = bucketSql("b.embedding", 8)
      val cos = cosSql("a.embedding", "b.embedding")
      s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b, $cos AS cosine
         |FROM embeddings a JOIN embeddings b
         |  ON a.vec_id < b.vec_id AND $b = $b2
         |WHERE $cos >= 0.4
         |ORDER BY id_a, id_b""".stripMargin
    }) { (s, d) =>
      Dedup.embeddingPairs(embeddings(s, d), "vec_id", "embedding",
          threshold = 0.4, planes = 8)
        .orderBy(col("id_a"), col("id_b"))
    },

    // SemDeDup-style cell-local pruning: every vector scored against
    // its LSH cell's representative (lowest id), dropped at cos >= tau.
    // One pass, no pair join — the cheap complement to
    // ext_dedup_embed's exact pair graph.
    Q("ext_semantic_prune", {
      val b = bucketSql("embedding", 8)
      val cos = cosSql("m.embedding", "rv.rep_vec")
      s"""WITH m AS (SELECT vec_id, embedding, $b AS bucket
         |  FROM embeddings),
         |r AS (SELECT bucket, min(vec_id) AS rep_id FROM m GROUP BY 1),
         |rv AS (SELECT r.bucket, r.rep_id, m2.embedding AS rep_vec
         |  FROM r JOIN m m2 ON m2.vec_id = r.rep_id)
         |SELECT m.vec_id AS vec_id, m.bucket, rv.rep_id,
         | $cos AS rep_cos,
         | (m.vec_id = rv.rep_id OR $cos < 0.4) AS kept
         |FROM m JOIN rv ON m.bucket = rv.bucket
         |ORDER BY vec_id""".stripMargin
    }) { (s, d) =>
      Dedup.semanticPrune(embeddings(s, d), "vec_id", "embedding",
          planes = 8, tau = 0.4)
        .orderBy(col("vec_id"))
    },

    // ---- similarity search ---------------------------------------------
    Q("ext_knn_brute", {
      val cos = cosSql("c.embedding", "q.embedding")
      s"""SELECT query_id, neighbor_id, rank, cosine FROM (
         | SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |  CAST(row_number() OVER (PARTITION BY q.vec_id
         |    ORDER BY $cos DESC, c.vec_id) AS INT) AS rank,
         |  $cos AS cosine
         | FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
         | WHERE q.vec_id < 10)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    }) { (s, d) =>
      val e = embeddings(s, d)
      Similarity.bruteKnn(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5)
        .orderBy(col("query_id"), col("rank"))
    },

    // Hard-negative mining: per query, the top-5 most-similar corpus
    // vectors EXCLUDING its known positives (residue-class pairs
    // c % 10 = q — including the query itself) — the contrastive-loss
    // negative sampler. The oracle replays the exclusion inside the
    // join predicate and re-ranks with the same sequential-fold cosine.
    Q("ext_hard_negatives", {
      val cos = cosSql("c.embedding", "q.embedding")
      s"""SELECT query_id, neighbor_id, rank, cosine FROM (
         | SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |  CAST(row_number() OVER (PARTITION BY q.vec_id
         |    ORDER BY $cos DESC, c.vec_id) AS INT) AS rank,
         |  $cos AS cosine
         | FROM embeddings q JOIN embeddings c
         |  ON q.vec_id != c.vec_id AND c.vec_id % 10 != q.vec_id
         | WHERE q.vec_id < 10)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    }) { (s, d) =>
      val e = embeddings(s, d)
      val positives = e.select(col("vec_id").as("pos_doc"))
        .withColumn("query_id", pmod(col("pos_doc"), lit(10)))
      Similarity.hardNegatives(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", positives, "query_id", "pos_doc",
          k = 5)
        .orderBy(col("query_id"), col("rank"))
    },

    // Chunk → document mean-pooling in the flat (grp, dim, value)
    // form: 50 pseudo-documents of ~40 chunk embeddings each, pooled
    // dimension-wise with the order-independent decimal mean; the
    // oracle re-derives every pooled coordinate with the identical
    // decimal-fixed-point sum / count.
    Q("ext_embed_pool",
      """SELECT CAST(vec_id % 50 AS BIGINT) AS grp,
        | CAST(d.i AS INT) AS dim,
        | CAST(sum(CAST(CAST(embedding[CAST(d.i AS INT) + 1] AS DOUBLE)
        |    AS DECIMAL(18,4))) AS DOUBLE)
        |  / CAST(count(*) AS DOUBLE) AS value
        |FROM embeddings, range(64) d(i)
        |GROUP BY 1, 2 ORDER BY grp, dim""".stripMargin) { (s, d) =>
      Similarity.meanPool(
          embeddings(s, d).select(pmod(col("vec_id"), lit(50)).as("grp"),
            col("embedding")),
          "grp", "embedding")
        .orderBy(col("grp"), col("dim"))
    },

    // k-NN majority-vote labeler over the exact neighbor set: the
    // embedding-space label-propagation primitive (tag unlabeled docs
    // by their nearest labeled ones). Ties break to the smaller label.
    Q("ext_knn_classify", {
      val cos = cosSql("c.embedding", "q.embedding")
      s"""WITH r AS (SELECT query_id, neighbor_id FROM (
         | SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |  CAST(row_number() OVER (PARTITION BY q.vec_id
         |    ORDER BY $cos DESC, c.vec_id) AS INT) AS rank
         | FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
         | WHERE q.vec_id < 20) WHERE rank <= 5),
         |v AS (SELECT query_id, c.label, CAST(count(*) AS BIGINT) AS votes
         | FROM r JOIN embeddings c ON c.vec_id = r.neighbor_id
         | GROUP BY 1, 2)
         |SELECT query_id, label AS pred_label, votes FROM (
         | SELECT *, row_number() OVER (PARTITION BY query_id
         |   ORDER BY votes DESC, label) AS vr FROM v)
         |WHERE vr = 1 ORDER BY query_id""".stripMargin
    }) { (s, d) =>
      val e = embeddings(s, d)
      Similarity.knnClassify(e, e.filter(col("vec_id") < 20),
          "vec_id", "embedding", "label", k = 5)
        .orderBy(col("query_id"))
    },

    // Label-noise detection: cosine of each vector to its own label's
    // centroid; far-from-centroid rows are probable mislabels. The
    // centroid mean and the dot/norm reductions are cross-row double
    // sums, so all four run fixed-point (fxSql/Cols.fxSum) — the
    // per-row fold trick used by cosSql can't apply across rows.
    Q("ext_centroid_outlier", {
      val sc = "1000000000.0"
      s"""WITH p AS (SELECT vec_id, label,
         |   CAST(embedding[pos + 1] AS DOUBLE) AS v, pos
         | FROM embeddings, unnest(range(0, len(embedding))) u(pos)
         | WHERE label IS NOT NULL),
         |c AS (SELECT label, pos,
         |  CAST(${fxSql("v", sc)} AS DOUBLE) / $sc
         |    / CAST(count(*) AS DOUBLE) AS c
         | FROM p GROUP BY 1, 2),
         |d AS (SELECT vec_id, label,
         |  ${fxSql("v * c", sc)} AS qd, ${fxSql("v * v", sc)} AS qv,
         |  ${fxSql("c * c", sc)} AS qc
         | FROM p JOIN c USING (label, pos) GROUP BY 1, 2),
         |e AS (SELECT vec_id, label,
         |  CAST(qd AS DOUBLE) / $sc
         |    / (sqrt(CAST(qv AS DOUBLE) / $sc)
         |       * sqrt(CAST(qc AS DOUBLE) / $sc)) AS centroid_cos
         | FROM d)
         |SELECT vec_id, label, centroid_cos,
         | centroid_cos < 0.2 AS is_outlier
         |FROM e ORDER BY vec_id""".stripMargin
    }) { (s, d) =>
      Similarity.centroidScores(embeddings(s, d), "vec_id", "embedding",
          "label", threshold = 0.2)
        .orderBy(col("vec_id"))
    },

    // Per-group embedding-centroid drift between two snapshots — the
    // semantic companion of the score-PSI monitor: even/odd vec_ids
    // play reference/current samples of 4 groups; the cosine between
    // each group's two fixed-point centroids says how far its content
    // moved. Mirrors ext_centroid_outlier's fx conventions.
    Q("ext_embedding_drift", {
      val sc = "1000000000.0"
      def cent(name: String, par: String) =
        s"""$name AS (SELECT grp, pos,
           |  CAST(${fxSql("v", sc)} AS DOUBLE) / $sc
           |    / CAST(count(*) AS DOUBLE) AS c
           | FROM (SELECT vec_id % 4 AS grp,
           |    CAST(embedding[pos + 1] AS DOUBLE) AS v, pos
           |   FROM embeddings, unnest(range(0, len(embedding))) u(pos)
           |   WHERE vec_id % 2 = $par)
           | GROUP BY 1, 2)""".stripMargin
      s"""WITH ${cent("pr", "0")},
         |${cent("pc", "1")},
         |d AS (SELECT grp,
         |  ${fxSql("pr.c * pc.c", sc)} AS qd,
         |  ${fxSql("pr.c * pr.c", sc)} AS qr,
         |  ${fxSql("pc.c * pc.c", sc)} AS qc
         | FROM pr JOIN pc USING (grp, pos) GROUP BY 1),
         |e AS (SELECT grp, CAST(qd AS DOUBLE) / $sc
         |   / (sqrt(CAST(qr AS DOUBLE) / $sc)
         |      * sqrt(CAST(qc AS DOUBLE) / $sc)) AS centroid_cos
         | FROM d),
         |nr AS (SELECT vec_id % 4 AS grp,
         |  CAST(count(*) AS BIGINT) AS n_ref FROM embeddings
         | WHERE vec_id % 2 = 0 GROUP BY 1),
         |ncu AS (SELECT vec_id % 4 AS grp,
         |  CAST(count(*) AS BIGINT) AS n_cur FROM embeddings
         | WHERE vec_id % 2 = 1 GROUP BY 1)
         |SELECT coalesce(nr.grp, ncu.grp) AS grp,
         | coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur,
         | centroid_cos
         |FROM nr FULL JOIN ncu ON nr.grp = ncu.grp
         |LEFT JOIN e ON e.grp = coalesce(nr.grp, ncu.grp)
         |ORDER BY grp""".stripMargin
    }) { (s, d) =>
      val e = embeddings(s, d)
      val grp = pmod(col("vec_id"), lit(4)).as("grp")
      val ref = e.filter(pmod(col("vec_id"), lit(2)) === 0)
        .select(grp, col("embedding"))
      val cur = e.filter(pmod(col("vec_id"), lit(2)) === 1)
        .select(grp, col("embedding"))
      Similarity.embeddingDrift(ref, cur, "grp", "embedding")
        .orderBy(col("grp"))
    },

    // Diversity-aware shortlist selection: greedy MMR over the 200
    // vectors nearest-in-id to the probe (vec_id 0), k=8, λ=0.5. The
    // oracle unrolls the greedy loop as k chained CTE steps — each
    // picks the argmax of 0.5·rel − 0.5·maxSimToSelected (ties to
    // smaller id) and folds its vector into every survivor's running
    // max — exactly the engine's k driver-paced rounds.
    Q("ext_mmr_select", {
      val k = 8
      val base =
        s"""cand AS (SELECT c.vec_id AS id, c.embedding AS vec,
           |  ${cosSql("c.embedding", "p.embedding")} AS rel
           | FROM embeddings c,
           |  (SELECT embedding FROM embeddings WHERE vec_id = 0) p
           | WHERE c.vec_id BETWEEN 1 AND 200),
           |c0 AS (SELECT id, vec, rel, 0.0 AS ms FROM cand)""".stripMargin
      val steps = (1 to k).map { j =>
        s"""s$j AS (SELECT id, vec, rel, ms, 0.5 * rel - 0.5 * ms AS mmr
           | FROM c${j - 1} ORDER BY 0.5 * rel - 0.5 * ms DESC, id
           | LIMIT 1),
           |c$j AS (SELECT c.id, c.vec, c.rel,
           |  greatest(c.ms, ${cosSql("c.vec", "s.vec")}) AS ms
           | FROM c${j - 1} c, s$j s WHERE c.id <> s.id)""".stripMargin
      }.mkString(",\n")
      val sel = (1 to k).map(j =>
        s"SELECT CAST($j AS INT) AS sel_rank, id, rel AS relevance, " +
          s"ms AS max_sim, mmr FROM s$j").mkString("\nUNION ALL\n")
      s"WITH $base,\n$steps\n$sel\nORDER BY sel_rank"
    }) { (s, d) =>
      import graft.functions.VectorFns
      val e = embeddings(s, d)
      val probe = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("pv"))
      val cands = e.filter(col("vec_id").between(1, 200))
        .crossJoin(broadcast(probe))
        .select(col("vec_id"), col("embedding"),
          VectorFns.cosine(col("embedding"), col("pv")).as("rel"))
      Similarity.mmrSelect(cands, "vec_id", "embedding", "rel",
          k = 8, lambda = 0.5)
        .orderBy(col("sel_rank"))
    },

    Q("ext_knn_lsh", {
      val (planes, tabs) = (6, 4)
      val cos = cosSql("c.embedding", "q.embedding")
      val bucketCase = (0 until tabs).map(t =>
        s"WHEN $t THEN ${bucketSql("embedding", planes, t)}")
        .mkString("CASE t ", " ", " END")
      s"""WITH b AS (
         | SELECT vec_id, embedding, t, $bucketCase AS bucket
         | FROM embeddings, (SELECT unnest(range(0, $tabs)) AS t)),
         |cand AS (
         | SELECT DISTINCT bq.vec_id AS query_id, bc.vec_id AS neighbor_id
         | FROM b bq JOIN b bc
         |   ON bq.t = bc.t AND bq.bucket = bc.bucket
         |   AND bq.vec_id != bc.vec_id
         | WHERE bq.vec_id < 10)
         |SELECT query_id, neighbor_id, rank, cosine FROM (
         | SELECT query_id, neighbor_id,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY $cos DESC, neighbor_id) AS INT) AS rank,
         |  $cos AS cosine
         | FROM cand
         | JOIN embeddings q ON q.vec_id = query_id
         | JOIN embeddings c ON c.vec_id = neighbor_id)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    }) { (s, d) =>
      val e = embeddings(s, d)
      Similarity.lshKnn(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, planes = 6, tables = 4)
        .orderBy(col("query_id"), col("rank"))
    },

    // Embedding-level decontamination: flag corpus vectors whose cosine
    // to ANY held-out probe (vec_id < 25 stands in for an eval suite)
    // reaches the threshold — candidates from the SAME OR-amplified
    // hyperplane blocking as the knn/near-dup family, across two sets.
    // The vector-space complement of the n-gram decontaminate gate.
    Q("ext_semantic_decontaminate", {
      val (planes, tabs, thr) = (6, 4, 0.8)
      val cos = cosSql("cq.embedding", "p.embedding")
      val bucketCase = (0 until tabs).map(t =>
        s"WHEN $t THEN ${bucketSql("embedding", planes, t)}")
        .mkString("CASE t ", " ", " END")
      s"""WITH b AS (
         | SELECT vec_id, embedding, t, $bucketCase AS bucket
         | FROM embeddings, (SELECT unnest(range(0, $tabs)) AS t)),
         |cand AS (
         | SELECT DISTINCT bc.vec_id AS cid, bp.vec_id AS pid
         | FROM b bc JOIN b bp ON bc.t = bp.t AND bc.bucket = bp.bucket
         | WHERE bc.vec_id >= 25 AND bp.vec_id < 25),
         |m AS (
         | SELECT DISTINCT cid FROM cand
         | JOIN embeddings cq ON cq.vec_id = cid
         | JOIN embeddings p ON p.vec_id = pid
         | WHERE $cos >= $thr)
         |SELECT e.vec_id, (m.cid IS NOT NULL) AS contaminated
         |FROM embeddings e LEFT JOIN m ON m.cid = e.vec_id
         |WHERE e.vec_id >= 25 ORDER BY e.vec_id""".stripMargin
    }) { (s, d) =>
      val e = embeddings(s, d)
      val corpus = e.filter(col("vec_id") >= 25)
      val probes = e.filter(col("vec_id") < 25)
      val hit = Similarity.semanticMatches(corpus, probes, "vec_id",
          "embedding", threshold = 0.8, planes = 6, tables = 4)
        .select(col("corpus_id").as("vec_id")).distinct()
        .withColumn("contaminated", lit(true))
      corpus.select(col("vec_id"))
        .join(hit, Seq("vec_id"), "left")
        .withColumn("contaminated",
          coalesce(col("contaminated"), lit(false)))
        .orderBy(col("vec_id"))
    },

    Q("ext_knn_ivf", {
      val (cells, nProbe) = (16, 4)
      val seedCos = cosSql("c.embedding", "s.sv")
      val probeCos = cosSql("q.embedding", "s.sv")
      val cos = cosSql("cc.cv", "qp.qv")
      s"""WITH seeds AS (
         |  SELECT vec_id AS cell, embedding AS sv FROM embeddings
         |  WHERE vec_id < $cells),
         |corpus_cells AS (
         | SELECT neighbor_id, cv, cell FROM (
         |  SELECT c.vec_id AS neighbor_id, c.embedding AS cv, s.cell,
         |   row_number() OVER (PARTITION BY c.vec_id
         |     ORDER BY $seedCos DESC, s.cell) AS rn
         |  FROM embeddings c, seeds s)
         | WHERE rn = 1),
         |query_probes AS (
         | SELECT query_id, qv, cell FROM (
         |  SELECT q.vec_id AS query_id, q.embedding AS qv, s.cell,
         |   row_number() OVER (PARTITION BY q.vec_id
         |     ORDER BY $probeCos DESC, s.cell) AS rn
         |  FROM embeddings q, seeds s WHERE q.vec_id < 10)
         | WHERE rn <= $nProbe)
         |SELECT query_id, neighbor_id, rank, cosine FROM (
         | SELECT qp.query_id, cc.neighbor_id,
         |  CAST(row_number() OVER (PARTITION BY qp.query_id
         |    ORDER BY $cos DESC, cc.neighbor_id) AS INT) AS rank,
         |  $cos AS cosine
         | FROM corpus_cells cc JOIN query_probes qp USING (cell)
         | WHERE qp.query_id != cc.neighbor_id)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    }) { (s, d) =>
      val e = embeddings(s, d)
      Similarity.ivfKnn(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, cells = 16, nProbe = 4)
        .orderBy(col("query_id"), col("rank"))
    },

    // Incremental ANN ingestion — the 100 TB embedding-ingestion
    // shape: the IVF index is BUILT once over the resident corpus
    // (vec_id % 8 != 0) in two installments (initial build < 256,
    // later vectors filed via ivfAppend under the FIXED centroids),
    // then a NEW batch (vec_id % 8 = 0, first 10) probes the
    // persisted index without the corpus ever being re-scanned. The
    // oracle flattens the two installments away — appending under
    // fixed centroids must be indistinguishable from indexing the
    // whole corpus at once — so any drift in the append path breaks
    // the hash.
    Q("ext_knn_incremental", {
      val (cells, nProbe) = (16, 4)
      val seedCos = cosSql("c.embedding", "s.sv")
      val probeCos = cosSql("q.embedding", "s.sv")
      val cos = cosSql("cc.cv", "qp.qv")
      s"""WITH seeds AS (
         |  SELECT vec_id AS cell, embedding AS sv FROM embeddings
         |  WHERE vec_id % 8 != 0 ORDER BY vec_id LIMIT $cells),
         |corpus_cells AS (
         | SELECT neighbor_id, cv, cell FROM (
         |  SELECT c.vec_id AS neighbor_id, c.embedding AS cv, s.cell,
         |   row_number() OVER (PARTITION BY c.vec_id
         |     ORDER BY $seedCos DESC, s.cell) AS rn
         |  FROM embeddings c, seeds s WHERE c.vec_id % 8 != 0)
         | WHERE rn = 1),
         |query_probes AS (
         | SELECT query_id, qv, cell FROM (
         |  SELECT q.vec_id AS query_id, q.embedding AS qv, s.cell,
         |   row_number() OVER (PARTITION BY q.vec_id
         |     ORDER BY $probeCos DESC, s.cell) AS rn
         |  FROM embeddings q, seeds s
         |  WHERE q.vec_id % 8 = 0 AND q.vec_id < 80)
         | WHERE rn <= $nProbe)
         |SELECT query_id, neighbor_id, rank, cosine FROM (
         | SELECT qp.query_id, cc.neighbor_id,
         |  CAST(row_number() OVER (PARTITION BY qp.query_id
         |    ORDER BY $cos DESC, cc.neighbor_id) AS INT) AS rank,
         |  $cos AS cosine
         | FROM corpus_cells cc JOIN query_probes qp USING (cell)
         | WHERE qp.query_id != cc.neighbor_id)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    }) { (s, d) =>
      val e = embeddings(s, d)
      val resident = e.filter(pmod(col("vec_id"), lit(8)) =!= 0)
      val ix0 = Similarity.ivfIndex(
        resident.filter(col("vec_id") < 256),
        "vec_id", "embedding", cells = 16)
      val appended = Similarity.ivfAppend(ix0,
        resident.filter(col("vec_id") >= 256), "vec_id", "embedding")
      val ix = Similarity.IvfIndexFrames(ix0.centroids,
        ix0.postings.unionByName(appended))
      Similarity.knnAgainstIndex(ix,
          e.filter(pmod(col("vec_id"), lit(8)) === 0 &&
            col("vec_id") < 80),
          "vec_id", "embedding", k = 5, nProbe = 4)
        .orderBy(col("query_id"), col("rank"))
    },

    // IVF cell-balance report over an append-grown index — the
    // operational health check of the fixed-centroid serving story:
    // the index is built over the resident corpus (vec_id % 8 != 0),
    // the remaining vectors arrive via ivfAppend under the FIXED
    // centroids, and ivfStats reports each cell's posting count /
    // share / load ratio over the grown store. The oracle flattens
    // the two installments (appending under fixed centroids must be
    // indistinguishable from assigning the whole corpus at once) and
    // replays the count/frac/load arithmetic on exact integers.
    Q("ext_ivf_stats", {
      val cells = 16
      val seedCos = cosSql("c.embedding", "s.sv")
      s"""WITH seeds AS (
         |  SELECT vec_id AS cell, embedding AS sv FROM embeddings
         |  WHERE vec_id % 8 != 0 ORDER BY vec_id LIMIT $cells),
         |cc AS (
         | SELECT neighbor_id, cell FROM (
         |  SELECT c.vec_id AS neighbor_id, s.cell,
         |   row_number() OVER (PARTITION BY c.vec_id
         |     ORDER BY $seedCos DESC, s.cell) AS rn
         |  FROM embeddings c, seeds s)
         | WHERE rn = 1),
         |cnt AS (SELECT cell, count(*) AS n FROM cc GROUP BY 1),
         |tot AS (SELECT (SELECT count(*) FROM cc) AS n,
         |  (SELECT count(*) FROM seeds) AS k)
         |SELECT s.cell,
         | CAST(coalesce(cnt.n, 0) AS BIGINT) AS n_postings,
         | CAST(coalesce(cnt.n, 0) AS DOUBLE) / CAST(tot.n AS DOUBLE)
         |   AS frac,
         | CAST(coalesce(cnt.n, 0) AS DOUBLE) * CAST(tot.k AS DOUBLE) /
         |   CAST(tot.n AS DOUBLE) AS load_ratio
         |FROM seeds s LEFT JOIN cnt ON cnt.cell = s.cell CROSS JOIN tot
         |ORDER BY s.cell""".stripMargin
    }) { (s, d) =>
      val e = embeddings(s, d)
      val resident = e.filter(pmod(col("vec_id"), lit(8)) =!= 0)
      val ix0 = Similarity.ivfIndex(resident, "vec_id", "embedding",
        cells = 16)
      val appended = Similarity.ivfAppend(ix0,
        e.filter(pmod(col("vec_id"), lit(8)) === 0), "vec_id", "embedding")
      Similarity.ivfStats(Similarity.IvfIndexFrames(ix0.centroids,
          ix0.postings.unionByName(appended)))
        .orderBy(col("cell"))
    },

    // ANN recall@5 of the IVF probe against the exact brute top-5 —
    // the measurement every index variant's cost/recall dial needs:
    // per query, |ivf ∩ brute| / |brute| at rank <= 5 under the
    // default (cells=16, nProbe=4). The oracle replays BOTH neighbor
    // computations (the ext_knn_ivf and ext_knn_brute CTEs verbatim)
    // and the membership-join recall arithmetic on exact integers.
    Q("ext_ann_recall", {
      val (cells, nProbe) = (16, 4)
      val seedCos = cosSql("c.embedding", "s.sv")
      val probeCos = cosSql("q.embedding", "s.sv")
      val cos = cosSql("cc.cv", "qp.qv")
      val bcos = cosSql("c.embedding", "q.embedding")
      s"""WITH seeds AS (
         |  SELECT vec_id AS cell, embedding AS sv FROM embeddings
         |  WHERE vec_id < $cells),
         |corpus_cells AS (
         | SELECT neighbor_id, cv, cell FROM (
         |  SELECT c.vec_id AS neighbor_id, c.embedding AS cv, s.cell,
         |   row_number() OVER (PARTITION BY c.vec_id
         |     ORDER BY $seedCos DESC, s.cell) AS rn
         |  FROM embeddings c, seeds s)
         | WHERE rn = 1),
         |query_probes AS (
         | SELECT query_id, qv, cell FROM (
         |  SELECT q.vec_id AS query_id, q.embedding AS qv, s.cell,
         |   row_number() OVER (PARTITION BY q.vec_id
         |     ORDER BY $probeCos DESC, s.cell) AS rn
         |  FROM embeddings q, seeds s WHERE q.vec_id < 10)
         | WHERE rn <= $nProbe),
         |approx AS (SELECT query_id, neighbor_id FROM (
         | SELECT qp.query_id, cc.neighbor_id,
         |  row_number() OVER (PARTITION BY qp.query_id
         |    ORDER BY $cos DESC, cc.neighbor_id) AS rank
         | FROM corpus_cells cc JOIN query_probes qp USING (cell)
         | WHERE qp.query_id != cc.neighbor_id)
         |WHERE rank <= 5),
         |exact AS (SELECT query_id, neighbor_id FROM (
         | SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |  row_number() OVER (PARTITION BY q.vec_id
         |    ORDER BY $bcos DESC, c.vec_id) AS rank
         | FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
         | WHERE q.vec_id < 10)
         |WHERE rank <= 5),
         |hits AS (SELECT a.query_id, count(*) AS n_overlap
         | FROM approx a JOIN exact e
         |  ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
         | GROUP BY 1)
         |SELECT e.query_id, CAST(count(*) AS BIGINT) AS n_exact,
         | CAST(coalesce(max(h.n_overlap), 0) AS BIGINT) AS n_overlap,
         | CAST(coalesce(max(h.n_overlap), 0) AS DOUBLE) /
         |   CAST(count(*) AS DOUBLE) AS recall
         |FROM exact e LEFT JOIN hits h ON h.query_id = e.query_id
         |GROUP BY 1 ORDER BY e.query_id""".stripMargin
    }) { (s, d) =>
      val e = embeddings(s, d)
      val q = e.filter(col("vec_id") < 10)
      Similarity.annRecall(
          Similarity.ivfKnn(e, q, "vec_id", "embedding", k = 5,
            cells = 16, nProbe = 4),
          Similarity.bruteKnn(e, q, "vec_id", "embedding", k = 5),
          k = 5)
        .orderBy(col("query_id"))
    },

    // The LSH variant's recall@5 against the same brute reference —
    // annRecall composing with a second index family (OR-amplified
    // hyperplane buckets): an LSH query can return FEWER than 5
    // candidates, which is exactly the shortfall recall@k must (and
    // here does) penalize. Oracle replays the bucket blocking, the
    // brute ranks, and the recall join.
    Q("ext_ann_recall_lsh", {
      val (planes, tabs) = (6, 4)
      val cos = cosSql("c.embedding", "q.embedding")
      val bucketCase = (0 until tabs).map(t =>
        s"WHEN $t THEN ${bucketSql("embedding", planes, t)}")
        .mkString("CASE t ", " ", " END")
      s"""WITH b AS (
         | SELECT vec_id, embedding, t, $bucketCase AS bucket
         | FROM embeddings, (SELECT unnest(range(0, $tabs)) AS t)),
         |cand AS (
         | SELECT DISTINCT bq.vec_id AS query_id, bc.vec_id AS neighbor_id
         | FROM b bq JOIN b bc
         |   ON bq.t = bc.t AND bq.bucket = bc.bucket
         |   AND bq.vec_id != bc.vec_id
         | WHERE bq.vec_id < 10),
         |approx AS (SELECT query_id, neighbor_id FROM (
         | SELECT query_id, neighbor_id,
         |  row_number() OVER (PARTITION BY query_id
         |    ORDER BY $cos DESC, neighbor_id) AS rank
         | FROM cand
         | JOIN embeddings q ON q.vec_id = query_id
         | JOIN embeddings c ON c.vec_id = neighbor_id)
         |WHERE rank <= 5),
         |exact AS (SELECT query_id, neighbor_id FROM (
         | SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |  row_number() OVER (PARTITION BY q.vec_id
         |    ORDER BY $cos DESC, c.vec_id) AS rank
         | FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
         | WHERE q.vec_id < 10)
         |WHERE rank <= 5),
         |hits AS (SELECT a.query_id, count(*) AS n_overlap
         | FROM approx a JOIN exact e
         |  ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
         | GROUP BY 1)
         |SELECT e.query_id, CAST(count(*) AS BIGINT) AS n_exact,
         | CAST(coalesce(max(h.n_overlap), 0) AS BIGINT) AS n_overlap,
         | CAST(coalesce(max(h.n_overlap), 0) AS DOUBLE) /
         |   CAST(count(*) AS DOUBLE) AS recall
         |FROM exact e LEFT JOIN hits h ON h.query_id = e.query_id
         |GROUP BY 1 ORDER BY e.query_id""".stripMargin
    }) { (s, d) =>
      val e = embeddings(s, d)
      val q = e.filter(col("vec_id") < 10)
      Similarity.annRecall(
          Similarity.lshKnn(e, q, "vec_id", "embedding", k = 5,
            planes = 6, tables = 4),
          Similarity.bruteKnn(e, q, "vec_id", "embedding", k = 5),
          k = 5)
        .orderBy(col("query_id"))
    },

    // Rebalance closes the maintenance loop: the skew-grown index of
    // ext_ivf_stats is RE-SEEDED from its own postings (rebalance ≡
    // fresh build over the union corpus — the spec-pinned contract),
    // and the post-rebalance cell-balance report is the oracle-gated
    // output. The oracle therefore seeds from the WHOLE corpus
    // (ORDER BY vec_id LIMIT 16, no residue filter) — exactly what a
    // fresh build over all postings does.
    Q("ext_ivf_rebalance", {
      val cells = 16
      val seedCos = cosSql("c.embedding", "s.sv")
      s"""WITH seeds AS (
         |  SELECT vec_id AS cell, embedding AS sv FROM embeddings
         |  ORDER BY vec_id LIMIT $cells),
         |cc AS (
         | SELECT neighbor_id, cell FROM (
         |  SELECT c.vec_id AS neighbor_id, s.cell,
         |   row_number() OVER (PARTITION BY c.vec_id
         |     ORDER BY $seedCos DESC, s.cell) AS rn
         |  FROM embeddings c, seeds s)
         | WHERE rn = 1),
         |cnt AS (SELECT cell, count(*) AS n FROM cc GROUP BY 1),
         |tot AS (SELECT (SELECT count(*) FROM cc) AS n,
         |  (SELECT count(*) FROM seeds) AS k)
         |SELECT s.cell,
         | CAST(coalesce(cnt.n, 0) AS BIGINT) AS n_postings,
         | CAST(coalesce(cnt.n, 0) AS DOUBLE) / CAST(tot.n AS DOUBLE)
         |   AS frac,
         | CAST(coalesce(cnt.n, 0) AS DOUBLE) * CAST(tot.k AS DOUBLE) /
         |   CAST(tot.n AS DOUBLE) AS load_ratio
         |FROM seeds s LEFT JOIN cnt ON cnt.cell = s.cell CROSS JOIN tot
         |ORDER BY s.cell""".stripMargin
    }) { (s, d) =>
      val e = embeddings(s, d)
      val resident = e.filter(pmod(col("vec_id"), lit(8)) =!= 0)
      val ix0 = Similarity.ivfIndex(resident, "vec_id", "embedding",
        cells = 16)
      val grown = Similarity.IvfIndexFrames(ix0.centroids,
        ix0.postings.unionByName(Similarity.ivfAppend(ix0,
          e.filter(pmod(col("vec_id"), lit(8)) === 0),
          "vec_id", "embedding")))
      Similarity.ivfStats(Similarity.ivfRebalance(grown))
        .orderBy(col("cell"))
    },

    // Bradley-Terry preference strengths via Hunter's MM algorithm —
    // the RLHF comparison-log analysis: (winner, loser) pairs are
    // synthesized from doc_id arithmetic over 32 items, two MM
    // updates with mean-1 renormalization, every double reduction
    // fixed-point. The oracle unrolls both iterations op-for-op
    // (pagerank's unrolled-CTE discipline), so any drift in the
    // update or normalization order breaks the hash.
    Q("ext_bt_strengths", {
      val sc = "1000000000.0"
      def iterSql(prev: String, n: Int): String =
        s"""d$n AS (SELECT o.i,
           |   ${fxSql("CAST(o.n AS DOUBLE) / (si.s + sj.s)", sc)} AS dfx
           |  FROM opp o JOIN $prev si ON si.i = o.i
           |  JOIN $prev sj ON sj.i = o.j GROUP BY 1),
           |r$n AS (SELECT b.i,
           |   CAST(b.wn AS DOUBLE) / (CAST(d$n.dfx AS DOUBLE) / $sc) AS s
           |  FROM base b JOIN d$n ON d$n.i = b.i),
           |t$n AS (SELECT ${fxSql("s", sc)} AS tfx, count(*) AS k
           |  FROM r$n),
           |s$n AS (SELECT i, s * CAST(k AS DOUBLE) /
           |   (CAST(tfx AS DOUBLE) / $sc) AS s FROM r$n, t$n)"""
          .stripMargin
      s"""WITH p AS (SELECT doc_id % 32 AS w, (3 * doc_id + 1) % 32 AS l
         |  FROM documents WHERE doc_id % 32 != (3 * doc_id + 1) % 32),
         |opp AS (SELECT i, j, count(*) AS n FROM (
         |  SELECT w AS i, l AS j FROM p
         |  UNION ALL SELECT l AS i, w AS j FROM p) GROUP BY 1, 2),
         |wins AS (SELECT w AS i, count(*) AS wn FROM p GROUP BY 1),
         |base AS (SELECT o.i, CAST(sum(o.n) AS BIGINT) AS nc,
         |   CAST(coalesce(max(w.wn), 0) AS BIGINT) AS wn
         |  FROM opp o LEFT JOIN wins w ON w.i = o.i GROUP BY 1),
         |s0 AS (SELECT i, 1.0 AS s FROM base),
         |${iterSql("s0", 1)},
         |${iterSql("s1", 2)}
         |SELECT b.i AS item, b.wn AS wins, b.nc AS n_comparisons,
         | s2.s AS strength
         |FROM base b JOIN s2 ON s2.i = b.i ORDER BY item""".stripMargin
    }) { (s, d) =>
      val id = col("doc_id")
      val pairs = documents(s, d)
        .select(pmod(id, lit(32)).as("w"),
          pmod(id * 3 + 1, lit(32)).as("l"))
        .filter(col("w") =!= col("l"))
      graft.operators.Stats.btStrengths(pairs, "w", "l", iters = 2)
        .orderBy(col("item"))
    },

    // Fleiss' kappa inter-annotator agreement — the label-QA gate
    // before training on human labels: 40 items rated by ~12 raters
    // each (doc_id arithmetic), mostly-consistent categories with a
    // deterministic noise arm (doc_id % 7 = 0 re-votes from a wider
    // category set). Exact integer count tables; the two cross-row
    // double sums fixed-point at 1e12, every division mirrored
    // op-for-op.
    Q("ext_fleiss_kappa", {
      val sc = "1000000000000.0"
      s"""WITH r AS (SELECT doc_id % 40 AS item,
         |  CASE WHEN doc_id % 7 = 0 THEN doc_id % 5
         |   ELSE (doc_id % 40) % 3 END AS cat FROM documents),
         |nij AS (SELECT item, cat, count(*) AS nij FROM r GROUP BY 1, 2),
         |ni AS (SELECT item, sum(nij) AS ni, sum(nij * nij) AS sq
         |  FROM nij GROUP BY 1 HAVING sum(nij) >= 2),
         |pb AS (SELECT ${fxSql(
             "CAST(sq - ni AS DOUBLE) / CAST(ni * (ni - 1) AS DOUBLE)",
             sc)} AS pfx,
         |  CAST(count(*) AS BIGINT) AS n_items FROM ni),
         |mg AS (SELECT cat, sum(nij.nij) AS cj FROM nij
         |  JOIN ni USING (item) GROUP BY 1),
         |nt AS (SELECT CAST(sum(cj) AS BIGINT) AS n_ratings FROM mg),
         |pe AS (SELECT ${fxSql(
             "(CAST(cj AS DOUBLE) / CAST(n_ratings AS DOUBLE)) * " +
               "(CAST(cj AS DOUBLE) / CAST(n_ratings AS DOUBLE))",
             sc)} AS pefx FROM mg, nt)
         |SELECT n_items, n_ratings,
         | (CAST(pfx AS DOUBLE) / $sc) / CAST(n_items AS DOUBLE) AS p_bar,
         | CAST(pefx AS DOUBLE) / $sc AS p_e,
         | CASE WHEN CAST(pefx AS DOUBLE) / $sc != 1.0 THEN
         |  ((CAST(pfx AS DOUBLE) / $sc) / CAST(n_items AS DOUBLE) -
         |    CAST(pefx AS DOUBLE) / $sc) /
         |  (1.0 - CAST(pefx AS DOUBLE) / $sc) END AS kappa
         |FROM pb, nt, pe""".stripMargin
    }) { (s, d) =>
      val id = col("doc_id")
      val ratings = documents(s, d).select(
        pmod(id, lit(40)).as("item"),
        when(pmod(id, lit(7)) === 0, pmod(id, lit(5)))
          .otherwise(pmod(pmod(id, lit(40)), lit(3))).as("cat"))
      graft.operators.Stats.fleissKappa(ratings, "item", "cat")
    },

    // Krippendorff's alpha (nominal) — the missing-data-robust
    // reliability coefficient over the same rating fixture as
    // ext_fleiss_kappa (unequal rater counts are exactly alpha's home
    // turf). Exact integer count tables; the one cross-row double sum
    // (observed-disagreement terms) fixed-point at 1e12; the closing
    // arithmetic mirrored op-for-op.
    Q("ext_kripp_alpha", {
      val sc = "1000000000000.0"
      s"""WITH r AS (SELECT doc_id % 40 AS item,
         |  CASE WHEN doc_id % 7 = 0 THEN doc_id % 5
         |   ELSE (doc_id % 40) % 3 END AS cat FROM documents),
         |nij AS (SELECT item, cat, count(*) AS nij FROM r GROUP BY 1, 2),
         |ni AS (SELECT item, sum(nij) AS ni FROM nij GROUP BY 1
         |  HAVING sum(nij) >= 2),
         |dobs AS (SELECT ${fxSql(
             "CAST(nij * (ni - nij) AS DOUBLE) / CAST(ni - 1 AS DOUBLE)",
             sc)} AS dofx
         |  FROM nij JOIN ni USING (item)),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
         |  CAST(sum(ni) AS BIGINT) AS n_ratings FROM ni),
         |mg AS (SELECT cat, sum(nij.nij) AS nc FROM nij
         |  JOIN ni USING (item) GROUP BY 1),
         |de AS (SELECT CAST(sum(nc * (n_ratings - nc)) AS BIGINT)
         |  AS dev FROM mg, tot)
         |SELECT n_items, n_ratings,
         | CASE WHEN dev > 0 THEN
         |  1.0 - CAST(n_ratings - 1 AS DOUBLE) *
         |   (CAST(dofx AS DOUBLE) / $sc) / CAST(dev AS DOUBLE)
         | END AS alpha
         |FROM tot, dobs, de""".stripMargin
    }) { (s, d) =>
      val id = col("doc_id")
      val ratings = documents(s, d).select(
        pmod(id, lit(40)).as("item"),
        when(pmod(id, lit(7)) === 0, pmod(id, lit(5)))
          .otherwise(pmod(pmod(id, lit(40)), lit(3))).as("cat"))
      graft.operators.Stats.krippendorffAlpha(ratings, "item", "cat")
    },

    // Krippendorff's alpha with the squared-difference (interval)
    // kernel — the ordered-scale form for Likert-style scores: raters
    // here sit mostly within ±1 of each item's base score, which
    // nominal alpha punishes as if random and the (c−k)² kernel
    // forgives proportionally. The pairwise form collapses to exact
    // per-item integer moments (no category self-join); the oracle
    // mirrors the moments, the fixed-point per-item division and the
    // closing arithmetic op-for-op.
    Q("ext_kripp_ordinal", {
      val sc = "1000000000000.0"
      s"""WITH r AS (SELECT doc_id % 40 AS item,
         |  1 + (doc_id % 40) % 4 +
         |   CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END AS cat
         | FROM documents),
         |nij AS (SELECT item, CAST(cat AS BIGINT) AS c,
         |  count(*) AS nij FROM r GROUP BY 1, 2),
         |pi AS (SELECT item, sum(nij) AS mi, sum(nij * c) AS s1,
         |  sum(nij * c * c) AS s2
         | FROM nij GROUP BY 1 HAVING sum(nij) >= 2),
         |dobs AS (SELECT ${fxSql(
             "CAST(2 * (mi * s2 - s1 * s1) AS DOUBLE) / " +
               "CAST(mi - 1 AS DOUBLE)",
             sc)} AS dofx FROM pi),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
         |  CAST(sum(mi) AS BIGINT) AS n_ratings,
         |  CAST(sum(s1) AS HUGEINT) AS ts1,
         |  CAST(sum(s2) AS HUGEINT) AS ts2 FROM pi)
         |SELECT n_items, n_ratings,
         | CASE WHEN 2 * (CAST(n_ratings AS HUGEINT) * ts2
         |     - ts1 * ts1) > 0 THEN
         |  1.0 - CAST(n_ratings - 1 AS DOUBLE) *
         |   (CAST(dofx AS DOUBLE) / $sc) /
         |   CAST(2 * (CAST(n_ratings AS HUGEINT) * ts2
         |     - ts1 * ts1) AS DOUBLE)
         | END AS alpha
         |FROM tot, dobs""".stripMargin
    }) { (s, d) =>
      val id = col("doc_id")
      val ratings = documents(s, d).select(
        pmod(id, lit(40)).as("item"),
        (lit(1) + pmod(pmod(id, lit(40)), lit(4)) +
          when(pmod(id, lit(11)) === 0, 1).otherwise(0)).as("cat"))
      graft.operators.Stats.krippendorffAlphaOrdinal(ratings, "item",
        "cat")
    },

    // Two-sample Kolmogorov-Smirnov drift test over the ext_psi
    // fixture in fixed-point — the binning-free companion: exact
    // integer |cum1*n2 - cum2*n1| maximum over the union support,
    // with the smallest breaking score as the pointer. Every moment
    // mirrored; the one division closes.
    Q("ext_ks_test",
      s"""WITH r AS (SELECT (doc_id * 13) % 100 AS s,
         |  CAST(count(*) AS BIGINT) AS c1 FROM documents
         | WHERE doc_id % 2 = 0 GROUP BY 1),
         |c AS (SELECT ((doc_id * 13) % 100) * 6 // 10 + 35 AS s,
         |  CAST(count(*) AS BIGINT) AS c2 FROM documents
         | WHERE doc_id % 2 = 1 GROUP BY 1),
         |b AS (SELECT coalesce(r.s, c.s) AS s,
         |  coalesce(c1, 0) AS c1, coalesce(c2, 0) AS c2
         | FROM r FULL JOIN c ON r.s = c.s),
         |cum AS (SELECT s, c1, c2,
         |  CAST(sum(c1) OVER (ORDER BY s
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |   AS BIGINT) AS ic1,
         |  CAST(sum(c2) OVER (ORDER BY s
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |   AS BIGINT) AS ic2
         | FROM b),
         |tot AS (SELECT CAST(coalesce(sum(c1), 0) AS BIGINT) AS n1,
         |  CAST(coalesce(sum(c2), 0) AS BIGINT) AS n2 FROM b),
         |dd AS (SELECT abs(ic1 * n2 - ic2 * n1) AS dn, s
         | FROM cum, tot),
         |m AS (SELECT max(dn) AS dmax FROM dd),
         |a AS (SELECT min(s) AS ks_at FROM dd, m WHERE dn = dmax)
         |SELECT n1 AS n_ref, n2 AS n_cur,
         | CAST(dmax AS DOUBLE) /
         |  (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS d,
         | ks_at
         |FROM tot, m, a""".stripMargin) { (s, d) =>
      val id = col("doc_id")
      val score = pmod(id * 13, lit(100))
      val docs = documents(s, d)
      val ref = docs.filter(pmod(id, lit(2)) === 0)
        .select(score.as("score_fx"))
      // built from the same pmod-based score as ref — a raw `%`
      // twin would diverge on negative ids
      val cur = docs.filter(pmod(id, lit(2)) === 1)
        .select(score.as("__s0"))
        .select((expr("__s0 * 6 div 10") + 35).as("score_fx"))
      graft.operators.Stats.ksTest(ref, cur, "score_fx")
    },

    // Per-SOURCE exact KS drift scorecard — ext_psi_by_source's
    // binning-free companion: every source's CDF-gap maximum in one
    // pass via group-partitioned windows; same integer-exact D and
    // smallest-breaking-score pointer as ext_ks_test.
    Q("ext_ks_by_source",
      s"""WITH r AS (SELECT source, (doc_id * 13) % 100 AS s,
         |  CAST(count(*) AS BIGINT) AS c1 FROM documents
         | WHERE doc_id % 2 = 0 GROUP BY 1, 2),
         |c AS (SELECT source, ((doc_id * 13) % 100) * 6 // 10 + 35
         |   AS s, CAST(count(*) AS BIGINT) AS c2 FROM documents
         | WHERE doc_id % 2 = 1 GROUP BY 1, 2),
         |b AS (SELECT coalesce(r.source, c.source) AS source,
         |  coalesce(r.s, c.s) AS s,
         |  coalesce(c1, 0) AS c1, coalesce(c2, 0) AS c2
         | FROM r FULL JOIN c ON r.source = c.source AND r.s = c.s),
         |cum AS (SELECT source, s, c1, c2,
         |  CAST(sum(c1) OVER (PARTITION BY source ORDER BY s
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |   AS BIGINT) AS ic1,
         |  CAST(sum(c2) OVER (PARTITION BY source ORDER BY s
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |   AS BIGINT) AS ic2,
         |  CAST(sum(c1) OVER (PARTITION BY source) AS BIGINT) AS n1,
         |  CAST(sum(c2) OVER (PARTITION BY source) AS BIGINT) AS n2
         | FROM b),
         |dd AS (SELECT source, n1, n2,
         |  abs(ic1 * n2 - ic2 * n1) AS dn, s FROM cum),
         |m AS (SELECT source, max(n1) AS n_ref, max(n2) AS n_cur,
         |  max(dn) AS dmax FROM dd GROUP BY 1),
         |a AS (SELECT dd.source, min(s) AS ks_at FROM dd
         |  JOIN m ON m.source = dd.source AND dd.dn = m.dmax
         |  GROUP BY 1)
         |SELECT m.source, n_ref, n_cur,
         | CASE WHEN n_ref > 0 AND n_cur > 0 THEN
         |  CAST(dmax AS DOUBLE) /
         |   (CAST(n_ref AS DOUBLE) * CAST(n_cur AS DOUBLE)) END AS d,
         | CASE WHEN n_ref > 0 AND n_cur > 0 THEN ks_at END AS ks_at
         |FROM m JOIN a ON a.source = m.source
         |ORDER BY m.source""".stripMargin) { (s, d) =>
      val id = col("doc_id")
      val score = pmod(id * 13, lit(100))
      val docs = documents(s, d)
      val ref = docs.filter(pmod(id, lit(2)) === 0)
        .select(col("source"), score.as("score_fx"))
      val cur = docs.filter(pmod(id, lit(2)) === 1)
        .select(col("source"), score.as("__s0"))
        .select(col("source"),
          (expr("__s0 * 6 div 10") + 35).as("score_fx"))
      graft.operators.Stats.ksTest(ref, cur, "score_fx", Seq("source"))
        .orderBy(col("source"))
    },

    // Exact 1-Wasserstein drift over the ext_ks_test fixture — the
    // MAGNITUDE companion (total mass moved, in fx units) to KS's
    // worst-gap D. The neighbor-free telescoped form (W1*n1*n2 =
    // sum s*(|E|-|D|), E the exclusive scaled CDF gap) is mirrored
    // op-for-op in HUGEINT; the one division closes.
    Q("ext_w1_test",
      s"""WITH r AS (SELECT (doc_id * 13) % 100 AS s,
         |  CAST(count(*) AS BIGINT) AS c1 FROM documents
         | WHERE doc_id % 2 = 0 GROUP BY 1),
         |c AS (SELECT ((doc_id * 13) % 100) * 6 // 10 + 35 AS s,
         |  CAST(count(*) AS BIGINT) AS c2 FROM documents
         | WHERE doc_id % 2 = 1 GROUP BY 1),
         |b AS (SELECT coalesce(r.s, c.s) AS s,
         |  coalesce(c1, 0) AS c1, coalesce(c2, 0) AS c2
         | FROM r FULL JOIN c ON r.s = c.s),
         |cum AS (SELECT s, c1, c2,
         |  CAST(sum(c1) OVER (ORDER BY s
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |   AS HUGEINT) AS ic1,
         |  CAST(sum(c2) OVER (ORDER BY s
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |   AS HUGEINT) AS ic2
         | FROM b),
         |tot AS (SELECT CAST(coalesce(sum(c1), 0) AS HUGEINT) AS n1,
         |  CAST(coalesce(sum(c2), 0) AS HUGEINT) AS n2 FROM b),
         |t AS (SELECT CAST(s AS HUGEINT) *
         |   (abs((ic1 - c1) * n2 - (ic2 - c2) * n1)
         |    - abs(ic1 * n2 - ic2 * n1)) AS term
         | FROM cum, tot),
         |num AS (SELECT sum(term) AS w1num FROM t)
         |SELECT CAST(n1 AS BIGINT) AS n_ref,
         | CAST(n2 AS BIGINT) AS n_cur,
         | CAST(w1num AS DOUBLE) /
         |  (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS w1
         |FROM tot, num""".stripMargin) { (s, d) =>
      val id = col("doc_id")
      val score = pmod(id * 13, lit(100))
      val docs = documents(s, d)
      val ref = docs.filter(pmod(id, lit(2)) === 0)
        .select(score.as("score_fx"))
      val cur = docs.filter(pmod(id, lit(2)) === 1)
        .select(score.as("__s0"))
        .select((expr("__s0 * 6 div 10") + 35).as("score_fx"))
      graft.operators.Stats.wasserstein1(ref, cur, "score_fx")
    },

    // Per-SOURCE W1 drift scorecard over the ext_ks_by_source
    // fixture — how much mass moved per source, not just each
    // source's worst gap. Reads compose with the per-source streamed
    // KS store (one store, two alarms).
    Q("ext_w1_by_source",
      s"""WITH r AS (SELECT source, (doc_id * 13) % 100 AS s,
         |  CAST(count(*) AS BIGINT) AS c1 FROM documents
         | WHERE doc_id % 2 = 0 GROUP BY 1, 2),
         |c AS (SELECT source, ((doc_id * 13) % 100) * 6 // 10 + 35
         |   AS s, CAST(count(*) AS BIGINT) AS c2 FROM documents
         | WHERE doc_id % 2 = 1 GROUP BY 1, 2),
         |b AS (SELECT coalesce(r.source, c.source) AS source,
         |  coalesce(r.s, c.s) AS s,
         |  coalesce(c1, 0) AS c1, coalesce(c2, 0) AS c2
         | FROM r FULL JOIN c ON r.source = c.source AND r.s = c.s),
         |cum AS (SELECT source, s, c1, c2,
         |  CAST(sum(c1) OVER (PARTITION BY source ORDER BY s
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |   AS HUGEINT) AS ic1,
         |  CAST(sum(c2) OVER (PARTITION BY source ORDER BY s
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |   AS HUGEINT) AS ic2,
         |  CAST(sum(c1) OVER (PARTITION BY source) AS HUGEINT) AS n1,
         |  CAST(sum(c2) OVER (PARTITION BY source) AS HUGEINT) AS n2
         | FROM b),
         |t AS (SELECT source, n1, n2, CAST(s AS HUGEINT) *
         |   (abs((ic1 - c1) * n2 - (ic2 - c2) * n1)
         |    - abs(ic1 * n2 - ic2 * n1)) AS term
         | FROM cum)
         |SELECT source, CAST(max(n1) AS BIGINT) AS n_ref,
         | CAST(max(n2) AS BIGINT) AS n_cur,
         | CASE WHEN max(n1) > 0 AND max(n2) > 0 THEN
         |  CAST(sum(term) AS DOUBLE) /
         |   (CAST(max(n1) AS DOUBLE) * CAST(max(n2) AS DOUBLE))
         | END AS w1
         |FROM t GROUP BY 1 ORDER BY source""".stripMargin) { (s, d) =>
      val id = col("doc_id")
      val score = pmod(id * 13, lit(100))
      val docs = documents(s, d)
      val ref = docs.filter(pmod(id, lit(2)) === 0)
        .select(col("source"), score.as("score_fx"))
      val cur = docs.filter(pmod(id, lit(2)) === 1)
        .select(col("source"), score.as("__s0"))
        .select(col("source"),
          (expr("__s0 * 6 div 10") + 35).as("score_fx"))
      graft.operators.Stats.wasserstein1(ref, cur, "score_fx",
          Seq("source"))
        .orderBy(col("source"))
    },

    // Two-sample chi-squared homogeneity drift over the CATEGORICAL
    // lang column — the alarm PSI/KS/W1 cannot raise (no order to
    // cumulate). The fixture perturbs the current side (every 9th doc
    // relabeled to a novel 'xx' lang) so both the new-category path
    // and the mix-shift path carry signal. Exact HUGEINT numerators,
    // fx-1e9 term sums, Cramer's V effect size — all mirrored
    // op-for-op.
    Q("ext_chi2_drift", {
      val term = "CAST(dn * dn AS DOUBLE) / (CAST(n1 AS DOUBLE) * " +
        "CAST(n2 AS DOUBLE) * CAST(ca + cb AS DOUBLE))"
      s"""WITH ra AS (SELECT lang AS cat,
         |  CAST(count(*) AS BIGINT) AS ca FROM documents
         | WHERE doc_id % 2 = 0 AND lang IS NOT NULL GROUP BY 1),
         |rb AS (SELECT CASE WHEN doc_id % 9 = 0 THEN 'xx'
         |    ELSE lang END AS cat,
         |  CAST(count(*) AS BIGINT) AS cb FROM documents
         | WHERE doc_id % 2 = 1 AND lang IS NOT NULL GROUP BY 1),
         |j AS (SELECT coalesce(ra.cat, rb.cat) AS cat,
         |  coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
         | FROM ra FULL JOIN rb ON ra.cat = rb.cat),
         |tot AS (SELECT CAST(coalesce(sum(ca), 0) AS BIGINT) AS n1,
         |  CAST(coalesce(sum(cb), 0) AS BIGINT) AS n2 FROM j),
         |t AS (SELECT ca, cb, n1, n2,
         |  CAST(ca AS HUGEINT) * n2 - CAST(cb AS HUGEINT) * n1 AS dn
         | FROM j, tot),
         |s AS (SELECT ${fxSql(term, "1000000000.0")} AS cfx,
         |  CAST(count(*) AS BIGINT) AS n_cats FROM t)
         |SELECT n1 AS n_ref, n2 AS n_cur, n_cats,
         | greatest(n_cats - 1, 0) AS df,
         | CAST(cfx AS DOUBLE) / 1000000000.0 AS chi2,
         | CASE WHEN n_cats > 1 THEN
         |  sqrt((CAST(cfx AS DOUBLE) / 1000000000.0) /
         |   CAST(n1 + n2 AS DOUBLE)) END AS cramers_v
         |FROM tot, s""".stripMargin
    }) { (s, d) =>
      val id = col("doc_id")
      val docs = documents(s, d)
      val ref = docs.filter(pmod(id, lit(2)) === 0)
        .select(col("lang").as("cat"))
      val cur = docs.filter(pmod(id, lit(2)) === 1)
        .select(when(pmod(id, lit(9)) === 0, lit("xx"))
          .otherwise(col("lang")).as("cat"))
      graft.operators.Stats.chiSquaredDrift(ref, cur, "cat")
    },

    // Per-SOURCE categorical drift scorecard: each source's lang-mix
    // chi-squared in one pass — "source X started shipping a new
    // language" fires here per source while the pooled ext_chi2_drift
    // may barely move.
    Q("ext_chi2_by_source", {
      // the CASE mirrors the engine's ANSI-safe zero-divisor guard: a
      // one-sided source's terms are 0 (its chi2 is nulled anyway)
      val term = "CASE WHEN n1 > 0 AND n2 > 0 THEN " +
        "CAST(dn * dn AS DOUBLE) / (CAST(n1 AS DOUBLE) * " +
        "CAST(n2 AS DOUBLE) * CAST(ca + cb AS DOUBLE)) ELSE 0.0 END"
      s"""WITH ra AS (SELECT source, lang AS cat,
         |  CAST(count(*) AS BIGINT) AS ca FROM documents
         | WHERE doc_id % 2 = 0 AND lang IS NOT NULL GROUP BY 1, 2),
         |rb AS (SELECT source, CASE WHEN doc_id % 9 = 0 THEN 'xx'
         |    ELSE lang END AS cat,
         |  CAST(count(*) AS BIGINT) AS cb FROM documents
         | WHERE doc_id % 2 = 1 AND lang IS NOT NULL GROUP BY 1, 2),
         |j AS (SELECT coalesce(ra.source, rb.source) AS source,
         |  coalesce(ra.cat, rb.cat) AS cat,
         |  coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
         | FROM ra FULL JOIN rb
         |  ON ra.source = rb.source AND ra.cat = rb.cat),
         |tot AS (SELECT source, CAST(sum(ca) AS BIGINT) AS n1,
         |  CAST(sum(cb) AS BIGINT) AS n2 FROM j GROUP BY 1),
         |t AS (SELECT j.source, ca, cb, n1, n2,
         |  CAST(ca AS HUGEINT) * n2 - CAST(cb AS HUGEINT) * n1 AS dn
         | FROM j JOIN tot ON tot.source = j.source),
         |s AS (SELECT source, ${fxSql(term, "1000000000.0")} AS cfx,
         |  CAST(count(*) AS BIGINT) AS n_cats,
         |  CAST(max(n1) AS BIGINT) AS n_ref,
         |  CAST(max(n2) AS BIGINT) AS n_cur
         | FROM t GROUP BY 1)
         |SELECT source, n_ref, n_cur, n_cats,
         | greatest(n_cats - 1, 0) AS df,
         | CASE WHEN n_ref > 0 AND n_cur > 0 THEN
         |  CAST(cfx AS DOUBLE) / 1000000000.0 END AS chi2,
         | CASE WHEN n_ref > 0 AND n_cur > 0 AND n_cats > 1 THEN
         |  sqrt((CAST(cfx AS DOUBLE) / 1000000000.0) /
         |   CAST(n_ref + n_cur AS DOUBLE)) END AS cramers_v
         |FROM s ORDER BY source""".stripMargin
    }) { (s, d) =>
      val id = col("doc_id")
      val docs = documents(s, d)
      val ref = docs.filter(pmod(id, lit(2)) === 0)
        .select(col("source"), col("lang").as("cat"))
      val cur = docs.filter(pmod(id, lit(2)) === 1)
        .select(col("source"), when(pmod(id, lit(9)) === 0, lit("xx"))
          .otherwise(col("lang")).as("cat"))
      graft.operators.Stats.chiSquaredDrift(ref, cur, "cat",
          Seq("source"))
        .orderBy(col("source"))
    },

    // Pairwise Cohen's kappa matrix over a 4-rater panel — names the
    // PAIR that disagrees where Fleiss/Krippendorff pool the panel:
    // per pair, observed vs chance agreement from each rater's label
    // marginal WITHIN the common items; exact HUGEINT marginal
    // products, the two closing divisions mirrored op-for-op.
    Q("ext_kappa_pairs",
      s"""WITH b0 AS (SELECT (doc_id // 4) % 97 AS it,
         |  doc_id % 4 AS ra FROM documents),
         |r AS (SELECT DISTINCT it, ra,
         |  CASE WHEN (it + ra * 3) % 13 = 0 THEN (it % 3 + 1) % 3
         |   WHEN (it * (ra + 1)) % 17 = 0 THEN (it % 3 + 2) % 3
         |   ELSE it % 3 END AS la FROM b0),
         |p AS (SELECT r1.ra AS ra, r2.ra AS rb, r1.la AS la,
         |  r2.la AS lb
         | FROM r r1 JOIN r r2 ON r1.it = r2.it AND r1.ra < r2.ra),
         |ag AS (SELECT ra, rb, CAST(count(*) AS BIGINT) AS n_items,
         |  CAST(sum(CASE WHEN la = lb THEN 1 ELSE 0 END) AS BIGINT)
         |   AS agree FROM p GROUP BY 1, 2),
         |m1 AS (SELECT ra, rb, la, CAST(count(*) AS BIGINT) AS c1
         | FROM p GROUP BY 1, 2, 3),
         |m2 AS (SELECT ra, rb, lb AS la,
         |  CAST(count(*) AS BIGINT) AS c2 FROM p GROUP BY 1, 2, 3),
         |ch AS (SELECT coalesce(m1.ra, m2.ra) AS ra,
         |  coalesce(m1.rb, m2.rb) AS rb,
         |  CAST(sum(CAST(coalesce(c1, 0) AS HUGEINT) *
         |    coalesce(c2, 0)) AS HUGEINT) AS s
         | FROM m1 FULL JOIN m2 ON m1.ra = m2.ra AND m1.rb = m2.rb
         |  AND m1.la = m2.la GROUP BY 1, 2),
         |fin AS (SELECT ag.ra, ag.rb, n_items, agree,
         |  CAST(agree AS DOUBLE) / CAST(n_items AS DOUBLE) AS po,
         |  CAST(s AS DOUBLE) / (CAST(n_items AS DOUBLE) *
         |    CAST(n_items AS DOUBLE)) AS pe
         | FROM ag JOIN ch ON ch.ra = ag.ra AND ch.rb = ag.rb)
         |SELECT ra AS rater_a, rb AS rater_b, n_items, agree,
         | po AS p_o, pe AS p_e,
         | CASE WHEN pe < 1.0 THEN (po - pe) / (1.0 - pe) END AS kappa
         |FROM fin ORDER BY rater_a, rater_b""".stripMargin) { (s, d) =>
      val id = col("doc_id")
      val it = pmod(expr("doc_id div 4"), lit(97))
      val ra = pmod(id, lit(4))
      val base = pmod(it, lit(3))
      val ratings = documents(s, d).select(it.as("item"),
        ra.as("rater"),
        when(pmod(it + ra * 3, lit(13)) === 0, pmod(base + 1, lit(3)))
          .when(pmod(it * (ra + 1), lit(17)) === 0,
            pmod(base + 2, lit(3)))
          .otherwise(base).as("label"))
      graft.operators.Stats.cohenKappaPairs(ratings, "item", "rater",
          "label")
        .orderBy(col("rater_a"), col("rater_b"))
    },

    // Per-item vote-distribution difficulty report over the same
    // Likert fixture — ranks ITEMS by ambiguity where raterAgreement
    // ranks raters: vote entropy (terms 1e-9 fx-quantized, the psi ln
    // convention) plus the exact modal share.
    Q("ext_item_difficulty", {
      val sh = "(CAST(nij AS DOUBLE) / CAST(m AS DOUBLE))"
      s"""WITH r AS (SELECT doc_id % 40 AS item,
         |  1 + (doc_id % 40) % 4 +
         |   CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END AS cat
         | FROM documents),
         |nij AS (SELECT item, cat, count(*) AS nij FROM r
         |  GROUP BY 1, 2),
         |mi AS (SELECT item, sum(nij) AS m FROM nij GROUP BY 1),
         |t AS (SELECT nij.item, nij.nij, mi.m FROM nij
         |  JOIN mi USING (item))
         |SELECT item, CAST(max(m) AS BIGINT) AS n_ratings,
         | CAST(count(*) AS BIGINT) AS n_cats,
         | CAST(max(nij) AS DOUBLE) / CAST(max(m) AS DOUBLE)
         |   AS majority_share,
         | CAST(${fxSql(s"-$sh * ln($sh)", "1000000000.0")} AS DOUBLE)
         |   / 1000000000.0 AS entropy_nats
         |FROM t GROUP BY 1 ORDER BY item""".stripMargin
    }) { (s, d) =>
      val id = col("doc_id")
      val ratings = documents(s, d).select(
        pmod(id, lit(40)).as("item"),
        (lit(1) + pmod(pmod(id, lit(40)), lit(4)) +
          when(pmod(id, lit(11)) === 0, 1).otherwise(0)).as("cat"))
      graft.operators.Stats.annotationEntropy(ratings, "item", "cat")
        .orderBy(col("item"))
    },

    // Length-bias diagnostic over preference pairs — consecutive docs
    // paired, the winner arbitrated by doc_id arithmetic (so longer
    // and shorter texts win on a deterministic mix). The oracle
    // mirrors the length comparison, the tie exclusion and the
    // binomial z op-for-op.
    Q("ext_length_bias",
      s"""WITH p AS (SELECT
         |  CASE WHEN a.doc_id % 3 = 0 THEN b.text ELSE a.text END AS wt,
         |  CASE WHEN a.doc_id % 3 = 0 THEN a.text ELSE b.text END AS lt
         | FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1),
         |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(coalesce(sum(CASE WHEN length(wt) > length(lt)
         |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS longer_wins,
         |  CAST(coalesce(sum(CASE WHEN length(wt) = length(lt)
         |    OR wt IS NULL OR lt IS NULL THEN 1 ELSE 0 END), 0)
         |    AS BIGINT) AS ties
         | FROM p)
         |SELECT n_pairs, longer_wins, ties,
         | CASE WHEN n_pairs - ties > 0 THEN
         |  CAST(longer_wins AS DOUBLE) / CAST(n_pairs - ties AS DOUBLE)
         |  END AS frac_longer_wins,
         | CASE WHEN n_pairs - ties > 0 THEN
         |  CAST(2 * longer_wins - (n_pairs - ties) AS DOUBLE) /
         |   sqrt(CAST(n_pairs - ties AS DOUBLE)) END AS z
         |FROM agg""".stripMargin) { (s, d) =>
      val docs = documents(s, d)
      val a = docs.select(col("doc_id"), col("text"))
      val b = docs.select((col("doc_id") - 1).as("doc_id"),
        col("text").as("__bt"))
      val pairs = a.join(b, Seq("doc_id"))
        .select(
          when(pmod(col("doc_id"), lit(3)) === 0, col("__bt"))
            .otherwise(col("text")).as("wt"),
          when(pmod(col("doc_id"), lit(3)) === 0, col("text"))
            .otherwise(col("__bt")).as("lt"))
      graft.operators.Stats.lengthBias(pairs, "wt", "lt")
    },

    // Self-consistency majority-vote accuracy (Wang et al. 2022) —
    // pass@k's companion: the MODAL answer per problem vs gold, ties
    // to the smaller answer. Samples are doc_id arithmetic: the
    // answer is usually gold (problem % 5) but every third sample
    // derails, so some problems vote wrong. The oracle replays the
    // two-level vote (count, then min-struct argmax as ORDER BY
    // count DESC, answer) and the gold compare.
    Q("ext_majority_vote",
      s"""WITH s AS (SELECT doc_id % 50 AS problem,
         |  CASE WHEN doc_id % 3 = 0 THEN (doc_id * 7) % 5
         |   ELSE (doc_id % 50) % 5 END AS answer,
         |  (doc_id % 50) % 5 AS gold FROM documents),
         |v AS (SELECT problem, answer, count(*) AS v
         |  FROM s GROUP BY 1, 2),
         |w AS (SELECT problem, CAST(sum(v) OVER
         |   (PARTITION BY problem) AS BIGINT) AS n, answer AS vote,
         |   CAST(v AS BIGINT) AS votes,
         |   row_number() OVER (PARTITION BY problem
         |     ORDER BY v DESC, answer) AS rn
         |  FROM v),
         |g AS (SELECT problem, min(gold) AS gold FROM s GROUP BY 1)
         |SELECT w.problem, w.n, w.vote, w.votes,
         | (w.vote = g.gold) AS correct
         |FROM w JOIN g ON g.problem = w.problem
         |WHERE rn = 1 ORDER BY w.problem""".stripMargin) { (s, d) =>
      val id = col("doc_id")
      val samples = documents(s, d).select(
        pmod(id, lit(50)).as("problem"),
        when(pmod(id, lit(3)) === 0, pmod(id * 7, lit(5)))
          .otherwise(pmod(pmod(id, lit(50)), lit(5))).as("answer"),
        pmod(pmod(id, lit(50)), lit(5)).as("gold"))
      graft.operators.Stats.majorityVote(samples, "problem", "answer",
          "gold")
        .orderBy(col("problem"))
    },

    // Unbiased pass@4 (Chen et al. 2021, eq. 1) over a synthesized
    // eval sample table: 50 problems × ~10 samples, pass arbitrated
    // by doc_id arithmetic. The oracle unrolls the k=4 product
    // factor-for-factor (the operator's sequential fold is
    // left-associated, so 1·f0·f1·f2·f3 matches exactly); an
    // all-passed problem exercises the exact-zero factor path.
    Q("ext_pass_at_k",
      s"""WITH s AS (SELECT doc_id % 50 AS problem,
         |  ((doc_id * 7) % 11 < 4) AS passed FROM documents),
         |a AS (SELECT problem, CAST(count(*) AS BIGINT) AS n,
         |   CAST(sum(CASE WHEN passed THEN 1 ELSE 0 END) AS BIGINT)
         |     AS c
         |  FROM s GROUP BY 1 HAVING count(*) >= 4)
         |SELECT problem, n, c,
         | 1.0 - (CAST(n - c - 0 AS DOUBLE) / CAST(n - 0 AS DOUBLE)) *
         |  (CAST(n - c - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE)) *
         |  (CAST(n - c - 2 AS DOUBLE) / CAST(n - 2 AS DOUBLE)) *
         |  (CAST(n - c - 3 AS DOUBLE) / CAST(n - 3 AS DOUBLE))
         |   AS pass_at_k
         |FROM a ORDER BY problem""".stripMargin) { (s, d) =>
      val id = col("doc_id")
      val samples = documents(s, d).select(
        pmod(id, lit(50)).as("problem"),
        (pmod(id * 7, lit(11)) < 4).as("passed"))
      graft.operators.Stats.passAtK(samples, "problem", "passed", k = 4)
        .orderBy(col("problem"))
    },

    // Expected-calibration-error report over a deterministically
    // miscalibrated score/label fixture (label correlates with score,
    // confidence ≠ accuracy per decile). The scalar ECE is
    // sum(contrib); per-bin rows keep the gate hash-strong. Bin
    // membership and accuracies are exact integers; the confidence
    // sum is fixed-point at 1e9.
    Q("ext_ece",
      s"""WITH p AS (SELECT
         |  CAST((doc_id * 13) % 100 AS DOUBLE) / 100.0 AS s,
         |  ((doc_id * 7) % 100 < (doc_id * 13) % 100) AS y
         | FROM documents),
         |b AS (SELECT least(CAST(floor(s * 10) AS BIGINT), 9) AS bin,
         |   CAST(count(*) AS BIGINT) AS n_bin,
         |   sum(CASE WHEN y THEN 1 ELSE 0 END) AS pos,
         |   ${fxSql("s", "1000000000.0")} AS sfx
         |  FROM p GROUP BY 1),
         |t AS (SELECT sum(n_bin) AS nt FROM b)
         |SELECT bin, n_bin,
         | CAST(n_bin AS DOUBLE) / CAST(nt AS DOUBLE) AS frac,
         | (CAST(sfx AS DOUBLE) / 1000000000.0) / CAST(n_bin AS DOUBLE)
         |   AS avg_conf,
         | CAST(pos AS DOUBLE) / CAST(n_bin AS DOUBLE) AS acc_rate,
         | abs(CAST(pos AS DOUBLE) / CAST(n_bin AS DOUBLE) -
         |   (CAST(sfx AS DOUBLE) / 1000000000.0) /
         |     CAST(n_bin AS DOUBLE)) AS abs_gap,
         | (CAST(n_bin AS DOUBLE) / CAST(nt AS DOUBLE)) *
         |  abs(CAST(pos AS DOUBLE) / CAST(n_bin AS DOUBLE) -
         |   (CAST(sfx AS DOUBLE) / 1000000000.0) /
         |     CAST(n_bin AS DOUBLE)) AS contrib
         |FROM b, t ORDER BY bin""".stripMargin) { (s, d) =>
      val id = col("doc_id")
      val preds = documents(s, d).select(
        (pmod(id * 13, lit(100)).cast("double") / 100.0).as("score"),
        (pmod(id * 7, lit(100)) < pmod(id * 13, lit(100))).as("label"))
      graft.operators.Stats.ece(preds, "score", "label", bins = 10)
        .orderBy(col("bin"))
    },

    // Murphy decomposition of the Brier score over the ext_ece
    // fixture — the WHY behind ece's calibration gap: reliability
    // (remappable miscalibration) vs resolution (discrimination) vs
    // the base-rate uncertainty floor. Same binning, exact counts,
    // fx-1e9 double reductions, every division mirrored.
    Q("ext_brier", {
      val pbarb = "((CAST(sfx AS DOUBLE) / 1000000000.0) / " +
        "CAST(n_bin AS DOUBLE))"
      val ybarb = "(CAST(pos AS DOUBLE) / CAST(n_bin AS DOUBLE))"
      val fracb = "(CAST(n_bin AS DOUBLE) / CAST(nt AS DOUBLE))"
      val ybar = "(CAST(pt AS DOUBLE) / CAST(nt AS DOUBLE))"
      val relT = s"$fracb * (($pbarb - $ybarb) * ($pbarb - $ybarb))"
      val resT = s"$fracb * (($ybarb - $ybar) * ($ybarb - $ybar))"
      val se = "(s - CAST(CASE WHEN y THEN 1 ELSE 0 END AS DOUBLE))" +
        " * (s - CAST(CASE WHEN y THEN 1 ELSE 0 END AS DOUBLE))"
      s"""WITH p AS (SELECT
         |  CAST((doc_id * 13) % 100 AS DOUBLE) / 100.0 AS s,
         |  ((doc_id * 7) % 100 < (doc_id * 13) % 100) AS y
         | FROM documents),
         |b AS (SELECT least(CAST(floor(s * 10) AS BIGINT), 9) AS bin,
         |   CAST(count(*) AS BIGINT) AS n_bin,
         |   CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT)
         |    AS pos,
         |   ${fxSql("s", "1000000000.0")} AS sfx,
         |   ${fxSql(se, "1000000000.0")} AS befx
         |  FROM p GROUP BY 1),
         |t AS (SELECT CAST(sum(n_bin) AS BIGINT) AS nt,
         |  CAST(sum(pos) AS BIGINT) AS pt,
         |  CAST(sum(befx) AS BIGINT) AS bfx FROM b),
         |terms AS (SELECT
         |  ${fxSql(relT, "1000000000.0")} AS relfx,
         |  ${fxSql(resT, "1000000000.0")} AS resfx
         | FROM b, t)
         |SELECT nt AS n, pt AS n_pos,
         | (CAST(bfx AS DOUBLE) / 1000000000.0) / CAST(nt AS DOUBLE)
         |  AS brier,
         | CAST(relfx AS DOUBLE) / 1000000000.0 AS reliability,
         | CAST(resfx AS DOUBLE) / 1000000000.0 AS resolution,
         | $ybar * (1.0 - $ybar) AS uncertainty
         |FROM t, terms""".stripMargin
    }) { (s, d) =>
      val id = col("doc_id")
      val preds = documents(s, d).select(
        (pmod(id * 13, lit(100)).cast("double") / 100.0).as("score"),
        (pmod(id * 7, lit(100)) < pmod(id * 13, lit(100))).as("label"))
      graft.operators.Stats.brierDecomposition(preds, "score", "label",
        bins = 10)
    },

    // Population-stability-index drift report between two score
    // distributions — even doc_ids are the reference scores, odd
    // doc_ids a compressed-and-shifted current batch, so several
    // bins empty on one side and the Laplace smoothing is exercised.
    // The oracle mirrors binning, smoothing, the ln term and the
    // 1e9 quantization bin-for-bin.
    Q("ext_psi", {
      // parenthesized: these substitute into `$p / $q` and `$p - $q`,
      // where an unparenthesized A/B / C/D would left-associate
      def pq(n: String, tot: String) =
        s"(CAST(coalesce($n, 0) + 1 AS DOUBLE) / " +
          s"CAST($tot + 10 AS DOUBLE))"
      val p = pq("rb.n_ref", "nr")
      val q = pq("cb.n_cur", "nc")
      val binOf =
        "least(CAST(9 AS BIGINT), greatest(CAST(0 AS BIGINT), " +
          "CAST(floor((s - 0.0) / 1.0 * 10) AS BIGINT)))"
      s"""WITH ref AS (SELECT CAST((doc_id * 13) % 100 AS DOUBLE) /
         |   100.0 AS s FROM documents WHERE doc_id % 2 = 0),
         |cur AS (SELECT CAST((doc_id * 13) % 100 AS DOUBLE) /
         |   100.0 * 0.6 + 0.35 AS s FROM documents
         | WHERE doc_id % 2 = 1),
         |rb AS (SELECT $binOf AS bin, count(*) AS n_ref
         |  FROM ref WHERE s IS NOT NULL AND NOT isnan(s) GROUP BY 1),
         |cb AS (SELECT $binOf AS bin, count(*) AS n_cur
         |  FROM cur WHERE s IS NOT NULL AND NOT isnan(s) GROUP BY 1),
         |tot AS (SELECT
         |  (SELECT coalesce(sum(n_ref), 0) FROM rb) AS nr,
         |  (SELECT coalesce(sum(n_cur), 0) FROM cb) AS nc),
         |sp AS (SELECT r.i AS bin FROM range(10) r(i))
         |SELECT sp.bin,
         | CAST(coalesce(rb.n_ref, 0) AS BIGINT) AS n_ref,
         | CAST(coalesce(cb.n_cur, 0) AS BIGINT) AS n_cur,
         | $p AS p_ref, $q AS p_cur,
         | CAST(floor(($p - $q) * ln($p / $q) * 1000000000.0 + 0.5)
         |  AS BIGINT) AS term_fx
         |FROM sp LEFT JOIN rb USING (bin) LEFT JOIN cb USING (bin)
         |CROSS JOIN tot ORDER BY sp.bin""".stripMargin
    }) { (s, d) =>
      val id = col("doc_id")
      val score = pmod(id * 13, lit(100)).cast("double") / 100.0
      val docs = documents(s, d)
      val ref = docs.filter(pmod(id, lit(2)) === 0)
        .select(score.as("score"))
      val cur = docs.filter(pmod(id, lit(2)) === 1)
        .select((score * 0.6 + 0.35).as("score"))
      graft.operators.Stats.psi(ref, cur, "score", bins = 10)
        .orderBy(col("bin"))
    },

    // Per-SOURCE drift scorecard — the grouped psi computes every source's
    // reference-vs-current PSI bin table in one pass (20 sources ×
    // 10 bins); per-source scalar = sum(term_fx)/1e9 per source. Same
    // smoothing/quantization as ext_psi, keyed by source.
    Q("ext_psi_by_source", {
      def pq(n: String, tot: String) =
        s"(CAST(coalesce($n, 0) + 1 AS DOUBLE) / " +
          s"CAST($tot + 10 AS DOUBLE))"
      val p = pq("rb.n_ref", "nr")
      val q = pq("cb.n_cur", "nc")
      val binOf =
        "least(CAST(9 AS BIGINT), greatest(CAST(0 AS BIGINT), " +
          "CAST(floor((s - 0.0) / 1.0 * 10) AS BIGINT)))"
      s"""WITH ref AS (SELECT source, CAST((doc_id * 13) % 100
         |   AS DOUBLE) / 100.0 AS s FROM documents
         | WHERE doc_id % 2 = 0),
         |cur AS (SELECT source, CAST((doc_id * 13) % 100 AS DOUBLE) /
         |   100.0 * 0.6 + 0.35 AS s FROM documents
         | WHERE doc_id % 2 = 1),
         |rb AS (SELECT source, $binOf AS bin, count(*) AS n_ref
         |  FROM ref WHERE s IS NOT NULL AND NOT isnan(s)
         |  GROUP BY 1, 2),
         |cb AS (SELECT source, $binOf AS bin, count(*) AS n_cur
         |  FROM cur WHERE s IS NOT NULL AND NOT isnan(s)
         |  GROUP BY 1, 2),
         |gs AS (SELECT source FROM rb UNION SELECT source FROM cb),
         |sp AS (SELECT gs.source, r.i AS bin FROM gs, range(10) r(i)),
         |tr AS (SELECT source, sum(n_ref) AS nr FROM rb GROUP BY 1),
         |tc AS (SELECT source, sum(n_cur) AS nc FROM cb GROUP BY 1),
         |tot AS (SELECT coalesce(tr.source, tc.source) AS source,
         |  coalesce(nr, 0) AS nr, coalesce(nc, 0) AS nc
         | FROM tr FULL JOIN tc ON tr.source = tc.source)
         |SELECT sp.source, sp.bin,
         | CAST(coalesce(rb.n_ref, 0) AS BIGINT) AS n_ref,
         | CAST(coalesce(cb.n_cur, 0) AS BIGINT) AS n_cur,
         | $p AS p_ref, $q AS p_cur,
         | CAST(floor(($p - $q) * ln($p / $q) * 1000000000.0 + 0.5)
         |  AS BIGINT) AS term_fx
         |FROM sp
         |LEFT JOIN rb ON rb.source = sp.source AND rb.bin = sp.bin
         |LEFT JOIN cb ON cb.source = sp.source AND cb.bin = sp.bin
         |JOIN tot ON tot.source = sp.source
         |ORDER BY sp.source, sp.bin""".stripMargin
    }) { (s, d) =>
      val id = col("doc_id")
      val score = pmod(id * 13, lit(100)).cast("double") / 100.0
      val docs = documents(s, d)
      val ref = docs.filter(pmod(id, lit(2)) === 0)
        .select(col("source"), score.as("score"))
      val cur = docs.filter(pmod(id, lit(2)) === 1)
        .select(col("source"), (score * 0.6 + 0.35).as("score"))
      graft.operators.Stats.psi(ref, cur, "score", bins = 10,
          groupCols = Seq("source"))
        .orderBy(col("source"), col("bin"))
    },

    // Deterministic Poisson-bootstrap CI for a win rate — the
    // uncertainty every point-estimate eval metric above lacks (a
    // 0.52 win rate over 40 comparisons is noise). 64 resamples; each
    // unit's per-resample weight is the Poisson(1) inverse CDF of an
    // md5 hash cut by EXACT integer thresholds both engines embed as
    // literals, each resample mean is fixed-point, and the percentile
    // bounds are Spark `percentile` ≡ DuckDB `quantile_cont` (parity
    // proven by a8_percentiles/ext_winsorize). The oracle replays
    // draws, weights, means and the percentile cut op-for-op.
    Q("ext_eval_ci", {
      val sc = "1000000000.0"
      val b = 64
      val wCase = graft.operators.Stats.PoissonCdf32.zipWithIndex
        .map { case (t, k) => s"WHEN hu < $t THEN $k" }
        .mkString("CASE ", " ", " ELSE 8 END")
      s"""WITH u AS (SELECT CAST(doc_id AS VARCHAR) AS id,
         |  CAST(CASE WHEN (doc_id * 7) % 11 < 6 THEN 1 ELSE 0 END
         |   AS DOUBLE) AS x
         | FROM documents),
         |dr AS (SELECT r.i AS r,
         |  ${h32("CAST(r.i AS VARCHAR) || ':' || id")} AS hu, x
         | FROM u, range($b) r(i)),
         |m AS (SELECT r,
         |  CASE WHEN sum($wCase) > 0 THEN
         |   CAST(${fxSql(s"CAST(($wCase) AS DOUBLE) * x", sc)}
         |     AS DOUBLE) / $sc / CAST(sum($wCase) AS DOUBLE)
         |  END AS mm
         | FROM dr GROUP BY r),
         |ci AS (SELECT quantile_cont(mm, 0.025) AS lo,
         |  quantile_cont(mm, 0.975) AS hi FROM m),
         |pt AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |  ${fxSql("x", sc)} AS sfx FROM u)
         |SELECT n, CAST($b AS INT) AS b,
         | CASE WHEN n > 0 THEN
         |  CAST(sfx AS DOUBLE) / $sc / CAST(n AS DOUBLE) END AS mean,
         | lo, hi
         |FROM pt, ci""".stripMargin
    }) { (s, d) =>
      val id = col("doc_id")
      val preds = documents(s, d).select(id,
        when(pmod(id * 7, lit(11)) < 6, 1.0).otherwise(0.0).as("win"))
      graft.operators.Stats.bootstrapCi(preds, "doc_id", "win", b = 64)
    },

    // CLUSTERED bootstrap CI — eval items correlated within prompt
    // templates (25 clusters of ~20 docs): the per-resample Poisson
    // weight keys on the CLUSTER id, so resamples draw whole
    // clusters and the interval carries the between-cluster variance
    // unit resampling misses. Oracle = the ext_eval_ci machinery with
    // the hash keyed on the cluster id.
    Q("ext_eval_ci_clustered", {
      val sc = "1000000000.0"
      val b = 64
      val wCase = graft.operators.Stats.PoissonCdf32.zipWithIndex
        .map { case (t, k) => s"WHEN hu < $t THEN $k" }
        .mkString("CASE ", " ", " ELSE 8 END")
      s"""WITH u AS (SELECT CAST(doc_id % 25 AS VARCHAR) AS id,
         |  CAST(CASE WHEN (doc_id * 7) % 11 < 6 THEN 1 ELSE 0 END
         |   AS DOUBLE) AS x
         | FROM documents),
         |dr AS (SELECT r.i AS r,
         |  ${h32("CAST(r.i AS VARCHAR) || ':' || id")} AS hu, x
         | FROM u, range($b) r(i)),
         |m AS (SELECT r,
         |  CASE WHEN sum($wCase) > 0 THEN
         |   CAST(${fxSql(s"CAST(($wCase) AS DOUBLE) * x", sc)}
         |     AS DOUBLE) / $sc / CAST(sum($wCase) AS DOUBLE)
         |  END AS mm
         | FROM dr GROUP BY r),
         |ci AS (SELECT quantile_cont(mm, 0.025) AS lo,
         |  quantile_cont(mm, 0.975) AS hi FROM m),
         |pt AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |  ${fxSql("x", sc)} AS sfx FROM u)
         |SELECT n, CAST($b AS INT) AS b,
         | CASE WHEN n > 0 THEN
         |  CAST(sfx AS DOUBLE) / $sc / CAST(n AS DOUBLE) END AS mean,
         | lo, hi
         |FROM pt, ci""".stripMargin
    }) { (s, d) =>
      val id = col("doc_id")
      val preds = documents(s, d).select(
        pmod(id, lit(25)).as("cluster"),
        when(pmod(id * 7, lit(11)) < 6, 1.0).otherwise(0.0).as("win"))
      graft.operators.Stats.bootstrapCiClustered(preds, "cluster",
        "win", b = 64)
    },

    // Exact tie-aware ROC AUC of a fixed-point quality score against
    // a keep/reject label — the Mann-Whitney rank-sum form over a
    // per-distinct-score count table (100 distinct scores, heavy
    // ties). The engine computes ranks-below via the bucketed
    // two-level prefix sum (no global window, no pos×neg pair join);
    // the oracle states the same semantics with a plain window
    // cumsum. All numerator terms are exact integers; the one double
    // division closes.
    Q("ext_auc",
      s"""WITH u AS (SELECT (doc_id * 13) % 100 AS s,
         |  (doc_id * 7) % 11 < 5 AS y FROM documents),
         |g AS (SELECT s,
         |  CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS np,
         |  CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS nn
         | FROM u GROUP BY 1),
         |c AS (SELECT s, np, nn,
         |  CAST(coalesce(sum(nn) OVER (ORDER BY s
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |   AS BIGINT) AS cnn
         | FROM g),
         |t AS (SELECT CAST(coalesce(sum(np), 0) AS BIGINT) AS n_pos,
         |  CAST(coalesce(sum(nn), 0) AS BIGINT) AS n_neg,
         |  coalesce(sum(np * (2 * cnn) + np * nn), 0) AS num2 FROM c)
         |SELECT n_pos, n_neg,
         | CASE WHEN n_pos > 0 AND n_neg > 0 THEN
         |  CAST(num2 AS DOUBLE) /
         |   (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
         | END AS auc FROM t""".stripMargin) { (s, d) =>
      val id = col("doc_id")
      val preds = documents(s, d).select(
        pmod(id * 13, lit(100)).as("score_fx"),
        (pmod(id * 7, lit(11)) < 5).as("label"))
      graft.operators.Stats.auc(preds, "score_fx", "label")
    },

    // Per-source AUC scorecard — the scorer validated on EVERY source
    // separately (a classifier tuned on web prose can be random on
    // code). Group-partitioned window over the per-(source, score)
    // count table; same tie-aware Mann-Whitney arithmetic as ext_auc.
    Q("ext_auc_by_source",
      s"""WITH u AS (SELECT source, (doc_id * 13) % 100 AS s,
         |  (doc_id * 7) % 11 < 5 AS y FROM documents),
         |g AS (SELECT source, s,
         |  CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS np,
         |  CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS nn
         | FROM u GROUP BY 1, 2),
         |c AS (SELECT source, s, np, nn,
         |  CAST(coalesce(sum(nn) OVER (PARTITION BY source ORDER BY s
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |   AS BIGINT) AS cnn
         | FROM g),
         |t AS (SELECT source,
         |  CAST(sum(np) AS BIGINT) AS n_pos,
         |  CAST(sum(nn) AS BIGINT) AS n_neg,
         |  sum(np * (2 * cnn) + np * nn) AS num2
         | FROM c GROUP BY 1)
         |SELECT source, n_pos, n_neg,
         | CASE WHEN n_pos > 0 AND n_neg > 0 THEN
         |  CAST(num2 AS DOUBLE) /
         |   (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
         | END AS auc FROM t ORDER BY source""".stripMargin) { (s, d) =>
      val id = col("doc_id")
      val preds = documents(s, d).select(col("source"),
        pmod(id * 13, lit(100)).as("score_fx"),
        (pmod(id * 7, lit(11)) < 5).as("label"))
      graft.operators.Stats.auc(preds, "score_fx", "label",
          Seq("source"))
        .orderBy(col("source"))
    },

    // McNemar's paired test — did model B fix more than it broke on
    // the shared eval set: only discordant pairs carry signal, z is
    // the binomial split on them (no continuity correction). Exact
    // counts, one sqrt.
    Q("ext_mcnemar",
      s"""WITH u AS (SELECT (doc_id * 7) % 11 < 6 AS a,
         |  (doc_id * 13) % 17 < 10 AS b FROM documents),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |  CAST(coalesce(sum(CASE WHEN a AND b THEN 1 ELSE 0 END), 0)
         |    AS BIGINT) AS n_both,
         |  CAST(coalesce(sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0
         |    END), 0) AS BIGINT) AS n_neither,
         |  CAST(coalesce(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END),
         |    0) AS BIGINT) AS a_only,
         |  CAST(coalesce(sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END),
         |    0) AS BIGINT) AS b_only
         | FROM u)
         |SELECT n, n_both, n_neither, a_only, b_only,
         | CASE WHEN a_only + b_only > 0 THEN
         |  CAST(a_only - b_only AS DOUBLE) /
         |   sqrt(CAST(a_only + b_only AS DOUBLE)) END AS z
         |FROM t""".stripMargin) { (s, d) =>
      val id = col("doc_id")
      val pairs = documents(s, d).select(
        (pmod(id * 7, lit(11)) < 6).as("a"),
        (pmod(id * 13, lit(17)) < 10).as("b"))
      graft.operators.Stats.mcnemar(pairs, "a", "b")
    },

    // Tie-corrected Mann-Whitney rank-sum z over the ext_auc fixture
    // — separation vs chance, with the tie correction the heavy-tie
    // fixture (100 distinct scores) actually needs. Exact integer
    // moments; the closing z mirrored op-for-op.
    Q("ext_ranksum",
      s"""WITH u AS (SELECT (doc_id * 13) % 100 AS s,
         |  (doc_id * 7) % 11 < 5 AS y FROM documents),
         |g AS (SELECT s,
         |  CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS np,
         |  CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS nn
         | FROM u GROUP BY 1),
         |c AS (SELECT s, np, nn,
         |  CAST(coalesce(sum(nn) OVER (ORDER BY s
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |   AS BIGINT) AS cnn
         | FROM g),
         |t AS (SELECT CAST(coalesce(sum(np), 0) AS BIGINT) AS n_pos,
         |  CAST(coalesce(sum(nn), 0) AS BIGINT) AS n_neg,
         |  coalesce(sum(np * (2 * cnn) + np * nn), 0) AS num2,
         |  coalesce(sum((np + nn) * (np + nn) * (np + nn)
         |    - (np + nn)), 0) AS tsum
         | FROM c)
         |SELECT n_pos, n_neg,
         | CASE WHEN n_pos > 0 AND n_neg > 0 THEN
         |  CAST(num2 AS DOUBLE) /
         |   (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
         | END AS auc,
         | CASE WHEN n_pos > 0 AND n_neg > 0 AND
         |   CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE) / 12.0 *
         |    ((CAST(n_pos + n_neg AS DOUBLE) + 1.0) -
         |     CAST(tsum AS DOUBLE) /
         |      (CAST(n_pos + n_neg AS DOUBLE) *
         |       (CAST(n_pos + n_neg AS DOUBLE) - 1.0))) > 0.0 THEN
         |  (CAST(num2 AS DOUBLE) / 2.0 -
         |   CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE) / 2.0) /
         |  sqrt(CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE) / 12.0 *
         |    ((CAST(n_pos + n_neg AS DOUBLE) + 1.0) -
         |     CAST(tsum AS DOUBLE) /
         |      (CAST(n_pos + n_neg AS DOUBLE) *
         |       (CAST(n_pos + n_neg AS DOUBLE) - 1.0))))
         | END AS z
         |FROM t""".stripMargin) { (s, d) =>
      val id = col("doc_id")
      val preds = documents(s, d).select(
        pmod(id * 13, lit(100)).as("score_fx"),
        (pmod(id * 7, lit(11)) < 5).as("label"))
      graft.operators.Stats.rankSumTest(preds, "score_fx", "label")
    },

    // Bootstrap CI on AUC — the separation estimate with its
    // uncertainty: hash-seeded Poisson resamples (the ext_eval_ci
    // machinery), each resample's AUC the same tie-aware rank-sum
    // over WEIGHTED integer counts with a resample-partitioned
    // window; class-dropping resamples yield null and sit out the
    // percentile on both engines.
    Q("ext_auc_ci", {
      val b = 48
      val wCase = graft.operators.Stats.PoissonCdf32.zipWithIndex
        .map { case (t, k) => s"WHEN hu < $t THEN $k" }
        .mkString("CASE ", " ", " ELSE 8 END")
      s"""WITH u AS (SELECT CAST(doc_id AS VARCHAR) AS id,
         |  (doc_id * 13) % 100 AS s,
         |  (doc_id * 7) % 11 < 5 AS y FROM documents),
         |dr AS (SELECT r.i AS r,
         |  ${h32("CAST(r.i AS VARCHAR) || ':' || id")} AS hu, s, y
         | FROM u, range($b) r(i)),
         |wc AS (SELECT r, s,
         |  CAST(sum(CASE WHEN y THEN $wCase ELSE 0 END) AS BIGINT)
         |    AS np,
         |  CAST(sum(CASE WHEN y THEN 0 ELSE $wCase END) AS BIGINT)
         |    AS nn
         | FROM dr GROUP BY 1, 2),
         |cw AS (SELECT r, s, np, nn,
         |  CAST(coalesce(sum(nn) OVER (PARTITION BY r ORDER BY s
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |   AS BIGINT) AS cnn
         | FROM wc),
         |ar AS (SELECT r,
         |  CASE WHEN sum(np) > 0 AND sum(nn) > 0 THEN
         |   CAST(sum(np * (2 * cnn) + np * nn) AS DOUBLE) /
         |    (2.0 * CAST(sum(np) AS DOUBLE) * CAST(sum(nn) AS DOUBLE))
         |  END AS a
         | FROM cw GROUP BY 1),
         |ci AS (SELECT quantile_cont(a, 0.025) AS lo,
         |  quantile_cont(a, 0.975) AS hi FROM ar),
         |g AS (SELECT s,
         |  CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS np,
         |  CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS nn
         | FROM u GROUP BY 1),
         |c AS (SELECT s, np, nn,
         |  CAST(coalesce(sum(nn) OVER (ORDER BY s
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |   AS BIGINT) AS cnn
         | FROM g),
         |t AS (SELECT CAST(coalesce(sum(np), 0) AS BIGINT) AS n_pos,
         |  CAST(coalesce(sum(nn), 0) AS BIGINT) AS n_neg,
         |  coalesce(sum(np * (2 * cnn) + np * nn), 0) AS num2 FROM c)
         |SELECT n_pos, n_neg, CAST($b AS INT) AS b,
         | CASE WHEN n_pos > 0 AND n_neg > 0 THEN
         |  CAST(num2 AS DOUBLE) /
         |   (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
         | END AS auc, lo, hi
         |FROM t, ci""".stripMargin
    }) { (s, d) =>
      val id = col("doc_id")
      val preds = documents(s, d).select(id,
        pmod(id * 13, lit(100)).as("score_fx"),
        (pmod(id * 7, lit(11)) < 5).as("label"))
      graft.operators.Stats.aucCi(preds, "doc_id", "score_fx", "label",
        b = 48)
    },

    // Spearman rank correlation between two fixed-point scorers
    // (y is a monotone transform of x plus bounded noise, so rho is
    // high but < 1). Tie-averaged ranks as exact DOUBLED integers via
    // the same two-level prefix sum; Pearson over them closes in pure
    // double ops on exact integer sums — the oracle replays ranks,
    // sums and the closing arithmetic op-for-op.
    Q("ext_spearman",
      s"""WITH u AS (SELECT (doc_id * 13) % 100 AS x,
         |  ((doc_id * 13) % 100) * 3 + (doc_id * 7) % 10 AS y
         | FROM documents),
         |gx AS (SELECT x, CAST(count(*) AS BIGINT) AS c FROM u
         |  GROUP BY 1),
         |rx AS (SELECT x, 2 * CAST(coalesce(sum(c) OVER (ORDER BY x
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |   AS BIGINT) + c + 1 AS r2x
         | FROM gx),
         |gy AS (SELECT y, CAST(count(*) AS BIGINT) AS c FROM u
         |  GROUP BY 1),
         |ry AS (SELECT y, 2 * CAST(coalesce(sum(c) OVER (ORDER BY y
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |   AS BIGINT) + c + 1 AS r2y
         | FROM gy),
         |j AS (SELECT r2x, r2y FROM u JOIN rx USING (x)
         |  JOIN ry USING (y)),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(r2x) AS DOUBLE) AS sx,
         |  CAST(sum(r2y) AS DOUBLE) AS sy,
         |  CAST(sum(r2x * r2x) AS DOUBLE) AS sxx,
         |  CAST(sum(r2y * r2y) AS DOUBLE) AS syy,
         |  CAST(sum(r2x * r2y) AS DOUBLE) AS sxy FROM j)
         |SELECT n,
         | CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0
         |   AND CAST(n AS DOUBLE) * syy - sy * sy > 0 THEN
         |  (CAST(n AS DOUBLE) * sxy - sx * sy) /
         |   (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx) *
         |    sqrt(CAST(n AS DOUBLE) * syy - sy * sy))
         | END AS rho FROM st""".stripMargin) { (s, d) =>
      val id = col("doc_id")
      val scores = documents(s, d).select(
        pmod(id * 13, lit(100)).as("x_fx"),
        (pmod(id * 13, lit(100)) * 3 + pmod(id * 7, lit(10)))
          .as("y_fx"))
      graft.operators.Stats.spearman(scores, "x_fx", "y_fx")
    },

    // Paired A/B comparison with a significance verdict: per-prompt
    // score difference (model A engineered +0.08 over B on otherwise
    // unrelated score streams), unit-resampled so the pairing is
    // preserved, interval excluding 0 → significant. The oracle
    // replays the diff arithmetic and the full CI machinery.
    Q("ext_eval_paired", {
      val sc = "1000000000.0"
      val b = 64
      val wCase = graft.operators.Stats.PoissonCdf32.zipWithIndex
        .map { case (t, k) => s"WHEN hu < $t THEN $k" }
        .mkString("CASE ", " ", " ELSE 8 END")
      s"""WITH u AS (SELECT CAST(doc_id AS VARCHAR) AS id,
         |  ((CAST((doc_id * 7) % 100 AS DOUBLE) / 100.0 + 0.08) -
         |   CAST((doc_id * 13) % 100 AS DOUBLE) / 100.0) AS x
         | FROM documents),
         |dr AS (SELECT r.i AS r,
         |  ${h32("CAST(r.i AS VARCHAR) || ':' || id")} AS hu, x
         | FROM u, range($b) r(i)),
         |m AS (SELECT r,
         |  CASE WHEN sum($wCase) > 0 THEN
         |   CAST(${fxSql(s"CAST(($wCase) AS DOUBLE) * x", sc)}
         |     AS DOUBLE) / $sc / CAST(sum($wCase) AS DOUBLE)
         |  END AS mm
         | FROM dr GROUP BY r),
         |ci AS (SELECT quantile_cont(mm, 0.025) AS lo,
         |  quantile_cont(mm, 0.975) AS hi FROM m),
         |pt AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |  ${fxSql("x", sc)} AS sfx FROM u)
         |SELECT n, CAST($b AS INT) AS b,
         | CASE WHEN n > 0 THEN
         |  CAST(sfx AS DOUBLE) / $sc / CAST(n AS DOUBLE) END AS mean,
         | lo, hi, (lo > 0.0 OR hi < 0.0) AS significant
         |FROM pt, ci""".stripMargin
    }) { (s, d) =>
      val id = col("doc_id")
      val scores = documents(s, d).select(id,
        (pmod(id * 7, lit(100)).cast("double") / 100.0 + 0.08)
          .as("score_a"),
        (pmod(id * 13, lit(100)).cast("double") / 100.0).as("score_b"))
      graft.operators.Stats.pairedDiffCi(scores, "doc_id",
        "score_a", "score_b", b = 64)
    },

    // Per-rater agreement with the leave-one-out consensus — which
    // annotator to retrain: 40 items × 7 raters (doc_id arithmetic),
    // rater 3 votes from a wider category set so their agreement
    // rate drops while the consensus raters stay high. The oracle
    // replays the vote dedup, the leave-one-out count adjustment and
    // the (count desc, category) majority tie-break.
    Q("ext_rater_agreement",
      s"""WITH r0 AS (SELECT doc_id % 40 AS item, doc_id % 7 AS rater,
         |  CASE WHEN doc_id % 7 = 3 THEN doc_id % 5
         |   ELSE (doc_id % 40) % 3 END AS cat FROM documents),
         |v AS (SELECT item, rater, min(cat) AS owncat
         |  FROM r0 GROUP BY 1, 2),
         |c AS (SELECT item, owncat AS cat, count(*) AS n
         |  FROM v GROUP BY 1, 2),
         |cand AS (SELECT v.item, v.rater, v.owncat, c.cat,
         |  c.n - CASE WHEN c.cat = v.owncat THEN 1 ELSE 0 END AS adj
         | FROM v JOIN c ON c.item = v.item),
         |mj AS (SELECT item, rater, owncat, cat AS mjc FROM (
         |  SELECT item, rater, owncat, cat,
         |   row_number() OVER (PARTITION BY item, rater
         |     ORDER BY adj DESC, cat) AS rn
         |  FROM cand WHERE adj > 0) WHERE rn = 1)
         |SELECT rater, CAST(count(*) AS BIGINT) AS n_items,
         | CAST(sum(CASE WHEN mjc = owncat THEN 1 ELSE 0 END)
         |  AS BIGINT) AS n_agree,
         | CAST(sum(CASE WHEN mjc = owncat THEN 1 ELSE 0 END)
         |   AS DOUBLE) / CAST(count(*) AS DOUBLE) AS agree_rate
         |FROM mj GROUP BY rater ORDER BY rater""".stripMargin) {
      (s, d) =>
        val id = col("doc_id")
        val ratings = documents(s, d).select(
          pmod(id, lit(40)).as("item"),
          pmod(id, lit(7)).as("rater"),
          when(pmod(id, lit(7)) === 3, pmod(id, lit(5)))
            .otherwise(pmod(pmod(id, lit(40)), lit(3))).as("cat"))
        graft.operators.Stats.raterAgreement(ratings, "item", "rater",
            "cat")
          .orderBy(col("rater"))
    },

    // Pairwise win-rate matrix with CIs — the head-to-head eval
    // report over a comparison log: 4 models, every comparison keyed
    // by its unordered pair, win rate of the smaller-named model per
    // pair with a within-pair bootstrap interval (bootstrapCi keyed
    // on the pair key — non-overlap with 0.5 is the readable
    // "actually better head-to-head" signal BT's global strengths
    // summarize away). The oracle replays the pair key, the win
    // indicator and the full grouped CI machinery.
    Q("ext_winrate_pairs", {
      val sc = "1000000000.0"
      val b = 32
      val wCase = graft.operators.Stats.PoissonCdf32.zipWithIndex
        .map { case (t, k) => s"WHEN hu < $t THEN $k" }
        .mkString("CASE ", " ", " ELSE 8 END")
      s"""WITH p AS (SELECT doc_id, doc_id % 4 AS w,
         |  (doc_id // 4) % 4 AS l FROM documents
         | WHERE doc_id % 4 != (doc_id // 4) % 4),
         |u AS (SELECT CAST(doc_id AS VARCHAR) AS id,
         |  CAST(least(w, l) AS VARCHAR) || '|' ||
         |   CAST(greatest(w, l) AS VARCHAR) AS pair,
         |  CAST(CASE WHEN w < l THEN 1 ELSE 0 END AS DOUBLE) AS x
         | FROM p),
         |dr AS (SELECT pair, r.i AS r,
         |  ${h32("CAST(r.i AS VARCHAR) || ':' || id")} AS hu, x
         | FROM u, range($b) r(i)),
         |m AS (SELECT pair, r,
         |  CASE WHEN sum($wCase) > 0 THEN
         |   CAST(${fxSql(s"CAST(($wCase) AS DOUBLE) * x", sc)}
         |     AS DOUBLE) / $sc / CAST(sum($wCase) AS DOUBLE)
         |  END AS mm
         | FROM dr GROUP BY pair, r),
         |ci AS (SELECT pair, quantile_cont(mm, 0.025) AS lo,
         |  quantile_cont(mm, 0.975) AS hi FROM m GROUP BY pair),
         |pt AS (SELECT pair, CAST(count(*) AS BIGINT) AS n,
         |  ${fxSql("x", sc)} AS sfx FROM u GROUP BY pair)
         |SELECT pt.pair, n, CAST($b AS INT) AS b,
         | CASE WHEN n > 0 THEN
         |  CAST(sfx AS DOUBLE) / $sc / CAST(n AS DOUBLE) END AS mean,
         | lo, hi
         |FROM pt JOIN ci USING (pair) ORDER BY pair""".stripMargin
    }) { (s, d) =>
      val id = col("doc_id")
      val p = documents(s, d)
        .select(id, pmod(id, lit(4)).as("w"),
          pmod(expr("doc_id div 4"), lit(4)).as("l"))
        .filter(col("w") =!= col("l"))
      val u = p.select(id,
        concat(least(col("w"), col("l")).cast("string"), lit("|"),
          greatest(col("w"), col("l")).cast("string")).as("pair"),
        when(col("w") < col("l"), 1.0).otherwise(0.0).as("win_lo"))
      graft.operators.Stats.bootstrapCi(u, "doc_id", "win_lo", b = 32,
          groupCols = Seq("pair"))
        .orderBy(col("pair"))
    },

    // Per-model win-rate CIs — the eval-report shape: 8 models with
    // engineered win rates 40%..75%, one interval per model, so
    // "model 7 beats model 0" is readable off non-overlapping
    // intervals instead of noise. Resampling is within-group with
    // the same hash-seeded weights as ext_eval_ci; the oracle
    // replays draws, per-(model, resample) means and the per-model
    // percentile cut.
    Q("ext_eval_ci_by_model", {
      val sc = "1000000000.0"
      val b = 32
      val wCase = graft.operators.Stats.PoissonCdf32.zipWithIndex
        .map { case (t, k) => s"WHEN hu < $t THEN $k" }
        .mkString("CASE ", " ", " ELSE 8 END")
      s"""WITH u AS (SELECT doc_id % 8 AS model,
         |  CAST(doc_id AS VARCHAR) AS id,
         |  CAST(CASE WHEN (doc_id * 7) % 100 < 40 + (doc_id % 8) * 5
         |   THEN 1 ELSE 0 END AS DOUBLE) AS x
         | FROM documents),
         |dr AS (SELECT model, r.i AS r,
         |  ${h32("CAST(r.i AS VARCHAR) || ':' || id")} AS hu, x
         | FROM u, range($b) r(i)),
         |m AS (SELECT model, r,
         |  CASE WHEN sum($wCase) > 0 THEN
         |   CAST(${fxSql(s"CAST(($wCase) AS DOUBLE) * x", sc)}
         |     AS DOUBLE) / $sc / CAST(sum($wCase) AS DOUBLE)
         |  END AS mm
         | FROM dr GROUP BY model, r),
         |ci AS (SELECT model, quantile_cont(mm, 0.025) AS lo,
         |  quantile_cont(mm, 0.975) AS hi FROM m GROUP BY model),
         |pt AS (SELECT model, CAST(count(*) AS BIGINT) AS n,
         |  ${fxSql("x", sc)} AS sfx FROM u GROUP BY model)
         |SELECT pt.model, n, CAST($b AS INT) AS b,
         | CASE WHEN n > 0 THEN
         |  CAST(sfx AS DOUBLE) / $sc / CAST(n AS DOUBLE) END AS mean,
         | lo, hi
         |FROM pt JOIN ci USING (model) ORDER BY model""".stripMargin
    }) { (s, d) =>
      val id = col("doc_id")
      val preds = documents(s, d).select(pmod(id, lit(8)).as("model"), id,
        when(pmod(id * 7, lit(100)) < lit(40) + pmod(id, lit(8)) * 5,
          1.0).otherwise(0.0).as("win"))
      graft.operators.Stats.bootstrapCi(preds, "doc_id", "win", b = 32,
          groupCols = Seq("model"))
        .orderBy(col("model"))
    },

    // Hard-negative mining over IVF candidate generation — the
    // ANN-composed variant of ext_hard_negatives (broadcast-queries
    // full scan replaced by the probed-cell equi-join, the shape for
    // huge query sets): same residue-class positives (c % 10 = q,
    // including self) anti-joined out of the probe candidates before
    // the top-5. The oracle replays cell assignment, probing, the
    // exclusion predicate and the re-rank.
    Q("ext_hard_negatives_ann", {
      val (cells, nProbe) = (16, 4)
      val seedCos = cosSql("c.embedding", "s.sv")
      val probeCos = cosSql("q.embedding", "s.sv")
      val cos = cosSql("cc.cv", "qp.qv")
      s"""WITH seeds AS (
         |  SELECT vec_id AS cell, embedding AS sv FROM embeddings
         |  WHERE vec_id < $cells),
         |corpus_cells AS (
         | SELECT neighbor_id, cv, cell FROM (
         |  SELECT c.vec_id AS neighbor_id, c.embedding AS cv, s.cell,
         |   row_number() OVER (PARTITION BY c.vec_id
         |     ORDER BY $seedCos DESC, s.cell) AS rn
         |  FROM embeddings c, seeds s)
         | WHERE rn = 1),
         |query_probes AS (
         | SELECT query_id, qv, cell FROM (
         |  SELECT q.vec_id AS query_id, q.embedding AS qv, s.cell,
         |   row_number() OVER (PARTITION BY q.vec_id
         |     ORDER BY $probeCos DESC, s.cell) AS rn
         |  FROM embeddings q, seeds s WHERE q.vec_id < 10)
         | WHERE rn <= $nProbe)
         |SELECT query_id, neighbor_id, rank, cosine FROM (
         | SELECT qp.query_id, cc.neighbor_id,
         |  CAST(row_number() OVER (PARTITION BY qp.query_id
         |    ORDER BY $cos DESC, cc.neighbor_id) AS INT) AS rank,
         |  $cos AS cosine
         | FROM corpus_cells cc JOIN query_probes qp USING (cell)
         | WHERE qp.query_id != cc.neighbor_id
         |  AND cc.neighbor_id % 10 != qp.query_id)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    }) { (s, d) =>
      val e = embeddings(s, d)
      val positives = e.select(col("vec_id").as("pos_doc"))
        .withColumn("query_id", pmod(col("pos_doc"), lit(10)))
      Similarity.hardNegativesIvf(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", positives, "query_id", "pos_doc",
          k = 5, cells = 16, nProbe = 4)
        .orderBy(col("query_id"), col("rank"))
    },

    // Rank-biased overlap between two deterministic rankers (Webber
    // 2010, truncated @ k=20, p=0.9) — the label-free "did the ranker
    // change what users see" comparison. The per-depth weight table
    // is computed ONCE in Scala and shared with the oracle as
    // LITERALS, so pow never runs data-side in either engine; the
    // rest is an equi-join + broadcast + hash agg over exact fx sums.
    Q("ext_rbo", {
      val vals = graft.operators.Relevance.rboTable(0.9, 20)
        .map { case (m, t) => s"($m, ${t}::BIGINT)" }.mkString(", ")
      s"""WITH base AS (SELECT doc_id % 5 AS q, doc_id AS doc,
         |  (doc_id * 13) % 97 AS ka, (doc_id * 17) % 89 AS kb
         | FROM documents WHERE doc_id < 250),
         |ra AS (SELECT q, doc, CAST(row_number() OVER (PARTITION BY q
         |   ORDER BY ka, doc) AS BIGINT) AS r FROM base),
         |rb AS (SELECT q, doc, CAST(row_number() OVER (PARTITION BY q
         |   ORDER BY kb, doc) AS BIGINT) AS r FROM base),
         |t(m, tfx) AS (VALUES $vals),
         |j AS (SELECT ra.q AS q, greatest(ra.r, rb.r) AS m
         | FROM ra JOIN rb USING (q, doc)
         | WHERE ra.r <= 20 AND rb.r <= 20),
         |agg AS (SELECT q, CAST(count(*) AS BIGINT) AS n_overlap,
         |  CAST(sum(t.tfx) AS BIGINT) AS s
         | FROM j JOIN t ON t.m = j.m GROUP BY 1)
         |SELECT qs.q, coalesce(n_overlap, 0) AS n_overlap,
         | CAST(coalesce(s, 0) AS DOUBLE) / 1000000000000.0 AS rbo
         |FROM (SELECT DISTINCT q FROM base) qs LEFT JOIN agg USING (q)
         |ORDER BY qs.q""".stripMargin
    }) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val base = documents(s, d).filter(col("doc_id") < 250)
        .select(pmod(col("doc_id"), lit(5)).as("q"),
          col("doc_id").as("doc"),
          pmod(col("doc_id") * 13, lit(97)).as("ka"),
          pmod(col("doc_id") * 17, lit(89)).as("kb"))
      def run(key: String) = base.select(col("q"), col("doc"),
        row_number().over(Window.partitionBy(col("q"))
          .orderBy(col(key), col("doc"))).cast("long").as("r"))
      graft.operators.Relevance.rbo(run("ka"), run("kb"), "q", "doc",
          "r", p = 0.9, k = 20)
        .orderBy(col("q"))
    },

    // Reciprocal-rank fusion of two overlapping ranked runs (hybrid
    // lexical+dense search's default ensembling): run A ranks each
    // query's residue-class docs, run B a coarser class that overlaps
    // A (docs in both runs must fuse higher), both by md5 order. The
    // oracle replays the runs, the 1e-12 fixed-point 1/(60+rank)
    // terms, the exact sum and the fused tie order.
    Q("ext_rrf_fusion", {
      val hA = h32("'a:' || CAST(doc_id AS VARCHAR)")
      val hB = h32("'b:' || CAST(doc_id AS VARCHAR)")
      val term = "CAST(floor(1.0 / (60.0 + CAST(rank AS DOUBLE)) * " +
        "1000000000000.0 + 0.5) AS BIGINT)"
      s"""WITH a AS (SELECT q, doc, rank FROM (
         |  SELECT doc_id % 10 AS q, doc_id AS doc,
         |   row_number() OVER (PARTITION BY doc_id % 10
         |     ORDER BY $hA, doc_id) AS rank FROM documents)
         | WHERE rank <= 10),
         |b AS (SELECT q, doc, rank FROM (
         |  SELECT u.q, doc_id AS doc,
         |   row_number() OVER (PARTITION BY u.q
         |     ORDER BY $hB, doc_id) AS rank
         |  FROM documents, unnest([doc_id % 5, doc_id % 5 + 5]) u(q))
         | WHERE rank <= 10),
         |runs AS (SELECT * FROM a UNION ALL SELECT * FROM b),
         |fused AS (SELECT q, doc,
         |   CAST(sum($term) AS BIGINT) AS rrf_fx
         |  FROM runs GROUP BY 1, 2)
         |SELECT q, doc, rrf_fx,
         | CAST(rrf_fx AS DOUBLE) / 1000000000000.0 AS rrf, rank
         |FROM (SELECT q, doc, rrf_fx, CAST(row_number() OVER (
         |   PARTITION BY q ORDER BY rrf_fx DESC, doc) AS INT) AS rank
         |  FROM fused)
         |WHERE rank <= 5 ORDER BY q, rank""".stripMargin
    }) { (sp, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = documents(sp, d).select(col("doc_id"))
      def h(tag: String) = graft.functions.TextFns.hash32(
        concat(lit(tag + ":"), col("doc_id").cast("string")))
      val runA = docs
        .withColumn("q", pmod(col("doc_id"), lit(10)))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("q")).orderBy(h("a"), col("doc_id"))))
        .filter(col("rank") <= 10)
        .select(col("q"), col("doc_id").as("doc"), col("rank"))
      val runB = docs
        .select(col("doc_id"), explode(array(
          pmod(col("doc_id"), lit(5)),
          pmod(col("doc_id"), lit(5)) + 5)).as("q"))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("q")).orderBy(h("b"), col("doc_id"))))
        .filter(col("rank") <= 10)
        .select(col("q"), col("doc_id").as("doc"), col("rank"))
      Relevance.rrfFuse(runA.unionAll(runB), "q", "doc", "rank", k = 5)
        .orderBy(col("q"), col("rank"))
    },

    // Graded nDCG@10 over a judged synthetic run (50 queries, graded
    // rel 0/1/3) — the retrieval-stack acceptance metric. Gains
    // 2^rel−1 are exact integers, the 1/log2(r+1) discount table is
    // computed ONCE in Scala and shared with the oracle as LITERALS
    // (the rboTable pattern — no data-side transcendental in either
    // engine), products run 19-digit-decimal vs HUGEINT; the ideal
    // re-rank windows over RELEVANT docs only.
    Q("ext_ndcg", {
      val vals = graft.operators.Relevance.dcgTable(10)
        .map { case (r, w) => s"($r, ${w}::BIGINT)" }.mkString(", ")
      s"""WITH run AS (SELECT doc_id % 50 AS qid,
         |  doc_id // 50 + 1 AS rnk,
         |  CASE WHEN (doc_id * 7) % 11 = 0 THEN 3
         |   WHEN (doc_id * 7) % 5 = 0 THEN 1 ELSE 0 END AS rel
         | FROM documents),
         |t(r, wfx) AS (VALUES $vals),
         |dc AS (SELECT qid, CAST(sum(
         |   CAST((1 << rel) - 1 AS HUGEINT) * wfx) AS HUGEINT)
         |  AS dcgfx FROM run JOIN t ON t.r = run.rnk
         | WHERE rnk <= 10 GROUP BY 1),
         |idl AS (SELECT qid, rel, row_number() OVER (
         |   PARTITION BY qid ORDER BY rel DESC) AS ir
         | FROM run WHERE rel > 0),
         |idc AS (SELECT qid, CAST(sum(
         |   CAST((1 << rel) - 1 AS HUGEINT) * wfx) AS HUGEINT)
         |  AS idcgfx FROM idl JOIN t ON t.r = idl.ir
         | WHERE ir <= 10 GROUP BY 1),
         |qs AS (SELECT DISTINCT qid FROM run)
         |SELECT qs.qid,
         | coalesce(CAST(dcgfx AS DOUBLE) / 1000000000000.0, 0.0)
         |  AS dcg,
         | coalesce(CAST(idcgfx AS DOUBLE) / 1000000000000.0, 0.0)
         |  AS idcg,
         | CASE WHEN idcgfx IS NOT NULL THEN
         |  coalesce(CAST(dcgfx AS DOUBLE), 0.0) /
         |   CAST(idcgfx AS DOUBLE) END AS ndcg
         |FROM qs LEFT JOIN dc USING (qid) LEFT JOIN idc USING (qid)
         |ORDER BY qs.qid""".stripMargin
    }) { (s, d) =>
      graft.operators.Relevance.ndcgAtK(judgedRun(s, d), "qid", "rnk",
          "rel", k = 10)
        .orderBy(col("qid"))
    },

    // MRR@10 over the same judged run — first-good-hit depth; misses
    // score 0 (they pull the mean down instead of silently dropping).
    // The per-query reciprocal is one IEEE division, fx-1e12 summed.
    Q("ext_mrr", {
      val rr = "CASE WHEN fr IS NOT NULL THEN " +
        "1.0 / CAST(fr AS DOUBLE) ELSE 0.0 END"
      s"""WITH run AS (SELECT doc_id % 50 AS qid,
         |  doc_id // 50 + 1 AS rnk,
         |  CASE WHEN (doc_id * 7) % 11 = 0 THEN 3
         |   WHEN (doc_id * 7) % 5 = 0 THEN 1 ELSE 0 END AS rel
         | FROM documents),
         |fst AS (SELECT qid, min(rnk) AS fr FROM run
         | WHERE rel > 0 AND rnk >= 1 AND rnk <= 10 GROUP BY 1),
         |qs AS (SELECT DISTINCT qid FROM run),
         |j AS (SELECT qs.qid, fr FROM qs LEFT JOIN fst USING (qid)),
         |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_queries,
         |  CAST(sum(CASE WHEN fr IS NOT NULL THEN 1 ELSE 0 END)
         |   AS BIGINT) AS n_hit,
         |  ${fxSql(rr, "1000000000000.0")} AS sfx FROM j)
         |SELECT n_queries, n_hit,
         | CASE WHEN n_queries > 0 THEN
         |  CAST(sfx AS DOUBLE) / 1000000000000.0 /
         |   CAST(n_queries AS DOUBLE) END AS mrr
         |FROM agg""".stripMargin
    }) { (s, d) =>
      graft.operators.Relevance.mrrAtK(judgedRun(s, d), "qid", "rnk",
        "rel", k = 10)
    },

    // Recall@10 over the same judged run — per-query coverage of the
    // relevant pool; exact integer counts, the one division closes.
    Q("ext_recall_k",
      s"""WITH run AS (SELECT doc_id % 50 AS qid,
         |  doc_id // 50 + 1 AS rnk,
         |  CASE WHEN (doc_id * 7) % 11 = 0 THEN 3
         |   WHEN (doc_id * 7) % 5 = 0 THEN 1 ELSE 0 END AS rel
         | FROM documents),
         |rl AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_rel,
         |  CAST(sum(CASE WHEN rnk <= 10 THEN 1 ELSE 0 END)
         |   AS BIGINT) AS n_rel_topk
         | FROM run WHERE rel > 0 AND rnk >= 1 GROUP BY 1),
         |qs AS (SELECT DISTINCT qid FROM run)
         |SELECT qs.qid, coalesce(n_rel_topk, 0) AS n_rel_topk,
         | coalesce(n_rel, 0) AS n_rel,
         | CASE WHEN coalesce(n_rel, 0) > 0 THEN
         |  CAST(n_rel_topk AS DOUBLE) / CAST(n_rel AS DOUBLE)
         | END AS recall
         |FROM qs LEFT JOIN rl USING (qid)
         |ORDER BY qs.qid""".stripMargin) { (s, d) =>
      graft.operators.Relevance.recallAtK(judgedRun(s, d), "qid",
          "rnk", "rel", k = 10)
        .orderBy(col("qid"))
    },

    // Exact Gini concentration of document sizes — the corpus-mix
    // alarm ("few giant docs hold the mass"): the pairwise
    // mean-absolute-difference form collapsed onto the distinct-value
    // count table (one prefix-sum pass, no pair join); HUGEINT
    // products, one closing division.
    Q("ext_gini",
      s"""WITH g AS (SELECT n_chars AS v,
         |  CAST(count(*) AS BIGINT) AS c,
         |  CAST(sum(n_chars) AS BIGINT) AS s FROM documents
         | WHERE n_chars IS NOT NULL AND n_chars >= 0 GROUP BY 1),
         |cum AS (SELECT v, c, s,
         |  CAST(coalesce(sum(c) OVER (ORDER BY v
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |   AS HUGEINT) AS nc,
         |  CAST(coalesce(sum(s) OVER (ORDER BY v
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |   AS HUGEINT) AS ns
         | FROM g),
         |t AS (SELECT CAST(sum(c) AS BIGINT) AS n,
         |  CAST(sum(s) AS BIGINT) AS total,
         |  CAST(sum(CAST(c AS HUGEINT) *
         |    (CAST(v AS HUGEINT) * nc - ns)) AS HUGEINT) AS half
         | FROM cum)
         |SELECT n, total,
         | CASE WHEN n > 0 AND total > 0 THEN
         |  2.0 * CAST(half AS DOUBLE) /
         |   (2.0 * CAST(n AS DOUBLE) * CAST(total AS DOUBLE))
         | END AS gini
         |FROM t""".stripMargin) { (s, d) =>
      graft.operators.Stats.gini(documents(s, d), "n_chars")
    },

    // Per-SOURCE Gini scorecard over the same size column — each
    // source's internal concentration in one pass.
    Q("ext_gini_by_source",
      s"""WITH g AS (SELECT source, n_chars AS v,
         |  CAST(count(*) AS BIGINT) AS c,
         |  CAST(sum(n_chars) AS BIGINT) AS s FROM documents
         | WHERE n_chars IS NOT NULL AND n_chars >= 0 GROUP BY 1, 2),
         |cum AS (SELECT source, v, c, s,
         |  CAST(coalesce(sum(c) OVER (PARTITION BY source ORDER BY v
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |   AS HUGEINT) AS nc,
         |  CAST(coalesce(sum(s) OVER (PARTITION BY source ORDER BY v
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |   AS HUGEINT) AS ns
         | FROM g)
         |SELECT source, CAST(sum(c) AS BIGINT) AS n,
         | CAST(sum(s) AS BIGINT) AS total,
         | CASE WHEN sum(c) > 0 AND sum(s) > 0 THEN
         |  2.0 * CAST(CAST(sum(CAST(c AS HUGEINT) *
         |    (CAST(v AS HUGEINT) * nc - ns)) AS HUGEINT) AS DOUBLE) /
         |   (2.0 * CAST(sum(c) AS DOUBLE) * CAST(sum(s) AS DOUBLE))
         | END AS gini
         |FROM cum GROUP BY 1 ORDER BY source""".stripMargin) {
      (s, d) =>
        graft.operators.Stats.gini(documents(s, d), "n_chars",
            Seq("source"))
          .orderBy(col("source"))
    },

    // Kish effective sample size of a deterministic importance-weight
    // fixture (~mean-1 weights) — the statistical-power health check
    // for any weighted eval; both moments fx-1e6 summed, divisions
    // mirrored.
    Q("ext_ess", {
      val sw = "(CAST(swfx AS DOUBLE) / 1000000.0)"
      val sw2 = "(CAST(sw2fx AS DOUBLE) / 1000000.0)"
      s"""WITH w AS (SELECT
         |  CAST((doc_id * 13) % 100 AS DOUBLE) / 49.5 AS w
         | FROM documents),
         |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |  ${fxSql("w", "1000000.0")} AS swfx,
         |  ${fxSql("w * w", "1000000.0")} AS sw2fx
         | FROM w WHERE w >= 0)
         |SELECT n, $sw AS sum_w,
         | CASE WHEN sw2fx > 0 THEN $sw * $sw / $sw2 END AS ess,
         | CASE WHEN sw2fx > 0 AND n > 0 THEN
         |  $sw * $sw / $sw2 / CAST(n AS DOUBLE) END AS ess_frac
         |FROM a""".stripMargin
    }) { (s, d) =>
      val wdf = documents(s, d).select(
        (pmod(col("doc_id") * 13, lit(100)).cast("double") / 49.5)
          .as("w"))
      graft.operators.Stats.effectiveSampleSize(wdf, "w")
    },

    // SQuAD-style token F1 between a "prediction" (first 12 tokens)
    // and a "gold answer" (tokens 4-12) of each doc — clipped
    // bag-of-token overlap, the multiset-Dice F1. The oracle rebuilds
    // the same strings, re-tokenizes, and mirrors the clipped-count
    // fold; all counts exact, three closing divisions.
    Q("ext_token_f1", {
      val mk = (a: Int, b: Int) =>
        s"string_split_regex(lower(array_to_string(" +
          s"($TOKS)[$a:$b], ' ')), '\\s+')"
      val ov = "coalesce(list_sum(list_transform(list_distinct(tp), " +
        "u -> least(len(list_filter(tp, x -> x = u)), " +
        "len(list_filter(tg, x -> x = u))))), 0)"
      s"""WITH pg AS (SELECT doc_id, ${mk(1, 12)} AS tp,
         |  ${mk(4, 12)} AS tg FROM documents),
         |c AS (SELECT doc_id, CAST(len(tp) AS BIGINT) AS n_pred,
         |  CAST(len(tg) AS BIGINT) AS n_gold,
         |  CAST($ov AS BIGINT) AS n_common FROM pg)
         |SELECT doc_id, n_pred, n_gold, n_common,
         | CASE WHEN n_pred > 0 THEN
         |  CAST(n_common AS DOUBLE) / CAST(n_pred AS DOUBLE)
         | END AS prec,
         | CASE WHEN n_gold > 0 THEN
         |  CAST(n_common AS DOUBLE) / CAST(n_gold AS DOUBLE)
         | END AS rec,
         | CASE WHEN n_pred + n_gold > 0 THEN
         |  2.0 * CAST(n_common AS DOUBLE) /
         |   CAST(n_pred + n_gold AS DOUBLE)
         | END AS f1
         |FROM c ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      val t = TextFns.toks(col("text"))
      val pairs = documents(s, d).select(col("doc_id"),
        array_join(slice(t, 1, 12), " ").as("pred"),
        array_join(slice(t, 4, 9), " ").as("gold"))
      TextAnalysis.tokenF1(pairs, "doc_id", "pred", "gold")
        .orderBy(col("doc_id"))
    },

    // Sentence-BLEU components over the same pred/gold slices —
    // clipped n-gram precisions 1..4, and the LOG-domain score whose
    // one transcendental (ln) is fx-1e9 quantized data-side (the psi
    // convention); the brevity term is an exact-rational min. The
    // operator's convenience exp(bleu) column is deliberately NOT
    // gated — gate on log_bleu, which BLEU is monotone in.
    Q("ext_bleu", {
      val mk = (a: Int, b: Int) =>
        s"string_split_regex(lower(array_to_string(" +
          s"($TOKS)[$a:$b], ' ')), '\\s+')"
      def gr(side: String, n: Int) =
        s"CASE WHEN len($side) >= $n THEN " +
          s"list_transform(range(1, len($side) - ${n - 2}), " +
          s"i -> array_to_string($side[i:i+${n - 1}], ' ')) " +
          s"ELSE [] END"
      def ov(a: String, b: String) =
        s"coalesce(list_sum(list_transform(list_distinct($a), " +
          s"u -> least(len(list_filter($a, x -> x = u)), " +
          s"len(list_filter($b, x -> x = u))))), 0)"
      val gdefs = (2 to 4).map(n => s"${gr("tp", n)} AS pn$n, " +
        s"${gr("tg", n)} AS gn$n").mkString(", ")
      val clips = (1 to 4).map(n =>
        s"CAST(${ov(s"pn$n", s"gn$n")} AS BIGINT) AS clip_$n, " +
          s"CAST(len(pn$n) AS BIGINT) AS tot_$n").mkString(", ")
      val ts = (1 to 4).map(n =>
        s"CAST(floor(ln(CAST(clip_$n AS DOUBLE) / " +
          s"CAST(tot_$n AS DOUBLE)) * 1000000000.0 + 0.5) AS BIGINT)")
        .mkString(" + ")
      val pos = (1 to 4).map(n => s"clip_$n > 0 AND tot_$n > 0")
        .mkString(" AND ")
      s"""WITH pg AS (SELECT doc_id, ${mk(1, 12)} AS tp,
         |  ${mk(4, 12)} AS tg FROM documents),
         |g AS (SELECT doc_id, tp, tg, tp AS pn1, tg AS gn1,
         |  $gdefs FROM pg),
         |c AS (SELECT doc_id, CAST(len(tp) AS BIGINT) AS n_pred,
         |  CAST(len(tg) AS BIGINT) AS n_gold,
         |  $clips FROM g)
         |SELECT doc_id, n_pred, n_gold,
         | ${(1 to 4).map(n => s"clip_$n, tot_$n").mkString(", ")},
         | CASE WHEN $pos THEN
         |  CAST($ts AS DOUBLE) / 4.0 / 1000000000.0 +
         |   least(0.0, 1.0 - CAST(n_gold AS DOUBLE) /
         |     CAST(n_pred AS DOUBLE))
         | END AS log_bleu
         |FROM c ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      val t = TextFns.toks(col("text"))
      val pairs = documents(s, d).select(col("doc_id"),
        array_join(slice(t, 1, 12), " ").as("pred"),
        array_join(slice(t, 4, 9), " ").as("gold"))
      TextAnalysis.sentenceBleu(pairs, "doc_id", "pred", "gold",
          maxN = 4)
        .drop("bleu")
        .orderBy(col("doc_id"))
    },

    // Deterministic RANDOM-negative sampling over the md5 ring (the
    // contrastive baseline ext_hard_negatives upgrades from): the
    // oracle replays the ring ranks with one global row_number (fine
    // for an oracle; the engine uses the bounded two-level
    // zipWithIndex shape), the hashed per-query start offsets, the
    // window probes, the positive exclusion and the ring-order rank.
    Q("ext_random_negatives", {
      val (k, win) = (5, 13) // oversample = 8
      val h = h32("CAST(doc_id AS VARCHAR)")
      s"""WITH rk AS (SELECT doc_id,
         |   row_number() OVER (ORDER BY $h, doc_id) - 1 AS rn
         |  FROM documents),
         |nn AS (SELECT count(*) AS n FROM rk),
         |q AS (SELECT doc_id AS query_id, $h % n AS s
         |  FROM documents CROSS JOIN nn WHERE doc_id < 20),
         |probes AS (SELECT query_id, i AS pi, (s + i) % n AS rn
         |  FROM q CROSS JOIN nn, range(0, $win) u(i)),
         |cand AS (SELECT p.query_id, rk.doc_id, p.pi
         |  FROM probes p JOIN rk USING (rn)
         |  WHERE rk.doc_id % 20 != p.query_id)
         |SELECT query_id, doc_id, rank FROM (
         | SELECT query_id, doc_id, CAST(row_number() OVER (
         |   PARTITION BY query_id ORDER BY pi) AS INT) AS rank
         | FROM cand)
         |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
    }) { (s, d) =>
      val docs = documents(s, d)
      val positives = docs.select(col("doc_id").as("pos_doc"))
        .withColumn("query_id", pmod(col("pos_doc"), lit(20)))
      Similarity.randomNegatives(docs, "doc_id",
          docs.filter(col("doc_id") < 20), "doc_id",
          positives, "query_id", "pos_doc", k = 5, oversample = 8)
        .orderBy(col("query_id"), col("rank"))
    },

    // Deterministic spherical k-means (topic bucketing for curation):
    // hash-ordered seeds, fixed-point centroid recompute, argmax-cosine
    // assignment — every round mirrored CTE-for-stage in the oracle, so
    // the final (vector → cluster, cosine) table is bit-exact. The SQL
    // below is GENERATED per round from the same (k, rounds) constants
    // the engine runs with.
    Q("ext_kmeans", {
      val k = 8; val rounds = 2
      val seedH = h32("CAST(vec_id AS VARCHAR)")
      def assignCte(r: Int) =
        s"""a$r AS (SELECT vec_id, cell, cos FROM (
           |  SELECT vec_id, cell, cos, row_number() OVER (
           |    PARTITION BY vec_id ORDER BY cos DESC, cell) AS rn
           |  FROM (SELECT e.vec_id, c.cell,
           |     ${cosSql("e.embedding", "c.cv")} AS cos
           |    FROM embeddings e CROSS JOIN cent$r c)) WHERE rn = 1)"""
          .stripMargin
      def recomputeCte(r: Int) =
        s"""m$r AS (SELECT cell, i,
           |   (CAST(${fxSql("CAST(e.embedding[i] AS DOUBLE)",
                            "1000000000.0")} AS DOUBLE)
           |    / 1000000000.0) / CAST(count(*) AS DOUBLE) AS m
           |  FROM a$r a JOIN embeddings e USING (vec_id),
           |   unnest(range(1, 65)) AS u(i)
           |  GROUP BY cell, i),
           |cent${r + 1} AS (SELECT cell, list(m ORDER BY i) AS cv
           |  FROM m$r GROUP BY cell)""".stripMargin
      val body = (1 until rounds)
        .map(r => s"${assignCte(r)},\n${recomputeCte(r)}")
        .mkString(",\n")
      s"""WITH cent1 AS (
         |  SELECT row_number() OVER (ORDER BY $seedH, vec_id) - 1
         |    AS cell,
         |   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
         |  FROM embeddings ORDER BY $seedH, vec_id LIMIT $k),
         |$body,
         |${assignCte(rounds)}
         |SELECT vec_id, cell AS cluster_id, cos AS centroid_cos
         |FROM a$rounds ORDER BY vec_id""".stripMargin
    }) { (s, d) =>
      Similarity.kmeansFixed(embeddings(s, d), "vec_id", "embedding",
          k = 8, rounds = 2)
        .orderBy(col("vec_id"))
    },

    // ---- int8 quantization ----------------------------------------------
    // shared oracle CTE: per-vector symmetric int8 quantization
    // (mirrors Quantize.int8 — double math, floor(x+0.5) rounding)
    Q("ext_quantize_int8",
      s"""WITH s AS (SELECT vec_id, embedding,
         |  (CASE WHEN m > 0 THEN 127.0 / m ELSE 1.0 END) AS scale
         | FROM (SELECT vec_id, embedding,
         |   coalesce(list_max(list_transform(embedding,
         |     x -> abs(CAST(x AS DOUBLE)))), 0.0) AS m FROM embeddings)),
         |q AS (SELECT vec_id, scale, list_transform(embedding,
         |   x -> CAST(floor(CAST(x AS DOUBLE) * scale + 0.5) AS BIGINT))
         |   AS qv FROM s)
         |SELECT vec_id,
         | CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT)
         |   AS q_norm2,
         | CAST(list_sum(qv) AS BIGINT) AS q_sum,
         | scale
         |FROM q ORDER BY vec_id""".stripMargin) { (s, d) =>
      // integer checksums instead of the raw array: scalar columns
      // hash-compare robustly, and Σq/Σq² pin every component anyway.
      // int8Full emits the checksums from the same codegen pass that
      // quantizes — one loop per vector, no interpreted HOF lambdas.
      Quantize.int8Full(embeddings(s, d), "vec_id", "embedding")
        .select(col("vec_id"), col("q_norm2"), col("q_sum"), col("scale"))
        .orderBy(col("vec_id"))
    },

    Q("ext_knn_int8", {
      def n2(v: String) =
        s"CAST(list_sum(list_transform($v, x -> x * x)) AS DOUBLE)"
      val qcos = s"CAST(list_sum(list_transform(range(1, 65), " +
        s"i -> q.qv[i] * c.qv[i])) AS DOUBLE) / " +
        s"(sqrt(${n2("q.qv")}) * sqrt(${n2("c.qv")}))"
      s"""WITH s AS (SELECT vec_id, embedding,
         |  (CASE WHEN m > 0 THEN 127.0 / m ELSE 1.0 END) AS scale
         | FROM (SELECT vec_id, embedding,
         |   coalesce(list_max(list_transform(embedding,
         |     x -> abs(CAST(x AS DOUBLE)))), 0.0) AS m FROM embeddings)),
         |q8 AS (SELECT vec_id, list_transform(embedding,
         |   x -> CAST(floor(CAST(x AS DOUBLE) * scale + 0.5) AS BIGINT))
         |   AS qv FROM s)
         |SELECT query_id, neighbor_id, rank, qcos FROM (
         | SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |  CAST(row_number() OVER (PARTITION BY q.vec_id
         |    ORDER BY $qcos DESC, c.vec_id) AS INT) AS rank,
         |  $qcos AS qcos
         | FROM q8 q JOIN q8 c ON q.vec_id != c.vec_id
         | WHERE q.vec_id < 10)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    }) { (s, d) =>
      val e = embeddings(s, d)
      Quantize.knnInt8(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5)
        .orderBy(col("query_id"), col("rank"))
    },

    // ---- multimodal plumbing -------------------------------------------
    // Text bytes stand in for image payloads; the decode is the stub —
    // the oracle checks the deterministic fake arithmetic end-to-end
    // through the binary column + mapPartitions plumbing.
    Q("ext_mm_frames",
      """WITH assets AS (
        | SELECT doc_id,
        |  CAST(octet_length(encode(text)) % 640 AS INT) AS width,
        |  CAST(octet_length(encode(text)) * 7 % 480 AS INT) AS height,
        |  CAST(octet_length(encode(text)) % 30 AS INT) AS n_frames
        | FROM documents)
        |SELECT doc_id,
        | CAST(unnest(range(0, n_frames, 4)) AS INT) AS frame_idx,
        | CAST(width * 256 // greatest(width, height, 1) AS INT) AS resized_w,
        | CAST(height * 256 // greatest(width, height, 1) AS INT) AS resized_h
        |FROM assets WHERE n_frames > 0
        |ORDER BY doc_id, frame_idx""".stripMargin) { (s, d) =>
      val assets = Multimodal.documentAssets(documents(s, d),
        "doc_id", "text")
      val resized = Multimodal.resizeDims(assets, "width", "height", 256)
      Multimodal.frameSample(resized, "doc_id", "n_frames", step = 4)
        .join(resized.select(col("doc_id"), col("resized_w"),
          col("resized_h")), Seq("doc_id"))
        .select(col("doc_id"), col("frame_idx").cast("int").as("frame_idx"),
          col("resized_w"), col("resized_h"))
        .orderBy(col("doc_id"), col("frame_idx"))
    },

    // the STUB-feature ANN path (byte-peek features through the decode
    // fallback) — kept as the gate for the non-image-payload plumbing;
    // the REAL-pixel twin is MultimodalQueries' ext_mm_knn (features
    // are small integers, so the double→float cast is exact in both
    // engines)
    Q("ext_mm_knn_stub", {
      def feat(a: String) =
        s"list_transform(range(1, 9), i -> CAST(CAST(ascii(substr($a.text, i, 1)) AS DOUBLE) AS FLOAT))"
      def dot(x: String, y: String) =
        s"list_sum(list_transform(range(1, 9), i -> " +
          s"CAST(${x}_f[i] AS DOUBLE) * CAST(${y}_f[i] AS DOUBLE)))"
      val cos = s"(${dot("c", "q")} / (sqrt(${dot("c", "c")}) * sqrt(${dot("q", "q")})))"
      s"""WITH feats AS (
         | SELECT doc_id, ${feat("documents")} AS f FROM documents
         | WHERE length(text) >= 8)
         |SELECT query_id, neighbor_id, rank, cosine FROM (
         | SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
         |  CAST(row_number() OVER (PARTITION BY q.doc_id
         |    ORDER BY $cos DESC, c.doc_id) AS INT) AS rank,
         |  $cos AS cosine
         | FROM (SELECT doc_id, f AS q_f FROM feats) q
         | JOIN (SELECT doc_id, f AS c_f FROM feats) c
         |   ON q.doc_id != c.doc_id
         | WHERE q.doc_id < 5)
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
    }) { (s, d) =>
      // features via the real decode path, cast to the ANN input type
      val decoded = Multimodal.decodeBinary(
        documents(s, d).filter(length(col("text")) >= 8)
          .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload")),
        "payload")
        .select(col("doc_id"),
          col("decoded.features").cast("array<float>").as("embedding"))
      Similarity.bruteKnn(decoded, decoded.filter(col("doc_id") < 5),
          "doc_id", "embedding", k = 3)
        .orderBy(col("query_id"), col("rank"))
    },

    Q("ext_mm_decode",
      """SELECT doc_id,
        | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        | CAST(octet_length(encode(text)) % 640 AS INT) AS width,
        | CAST(octet_length(encode(text)) * 7 % 480 AS INT) AS height,
        | CAST(octet_length(encode(text)) % 30 AS INT) AS n_frames,
        | CAST(ascii(substr(text, 1, 1)) AS DOUBLE) AS f0,
        | CAST(ascii(substr(text, 2, 1)) AS DOUBLE) AS f1
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Multimodal.documentAssets(documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    // REAL header decode round-trip: per doc, synthesize a valid
    // PNG / GIF89a / BMP / JPEG / WebP-VP8X header (format by
    // doc_id mod 5) carrying dimensions derived from doc_id, push it
    // through the binary decode path, and let the oracle check the
    // parsed dims against the same arithmetic — any wrong offset/
    // endianness/byte-order (or JPEG marker-walk step, or WebP
    // minus-one canvas encoding) breaks the hash. n_frames = 1 marks
    // the real-parse branch (vs the stub's length arithmetic).
    Q("ext_mm_decode_headers",
      """SELECT doc_id,
        | CAST(doc_id % 640 + 1 AS INT) AS width,
        | CAST(doc_id % 480 + 1 AS INT) AS height,
        | CAST(1 AS INT) AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      val w = (col("doc_id") % 640 + 1).cast("int")
      val h = (col("doc_id") % 480 + 1).cast("int")
      def byteHex(c: Column) = lpad(hex(c.bitwiseAND(lit(255))), 2, "0")
      def be32hex(c: Column) = lpad(hex(c), 8, "0")
      def le16hex(c: Column) =
        concat(byteHex(c), byteHex(shiftright(c, 8)))
      def le32hex(c: Column) =
        concat(byteHex(c), byteHex(shiftright(c, 8)),
          byteHex(shiftright(c, 16)), byteHex(shiftright(c, 24)))
      val png = concat(lit("89504E470D0A1A0A0000000D49484452"),
        be32hex(w), be32hex(h), lit("0806000000"))
      val gif = concat(lit("474946383961"), le16hex(w), le16hex(h),
        lit("F70000"))
      val bmp = concat(
        lit("424D00000000000000003600000028000000"),
        le32hex(w), le32hex(h))
      def be16hex(c: Column) = lpad(hex(c), 4, "0")
      // SOI, then an SOF0 frame header (len 0x000B: precision, height,
      // width, 1 component spec) — exercises the marker walk
      val jpeg = concat(lit("FFD8FFC0000B08"), be16hex(h), be16hex(w),
        lit("01110011"))
      def le24hex(c: Column) = concat(byteHex(c), byteHex(shiftright(c, 8)),
        byteHex(shiftright(c, 16)))
      // RIFF/WEBP + VP8X: canvas (w-1)/(h-1) as little-endian u24
      val webp = concat(lit("52494646000000005745425056503858" +
        "0A00000000000000"), le24hex(w - 1), le24hex(h - 1))
      val payloadHex = when(pmod(col("doc_id"), lit(5)) === 0, png)
        .when(pmod(col("doc_id"), lit(5)) === 1, gif)
        .when(pmod(col("doc_id"), lit(5)) === 2, bmp)
        .when(pmod(col("doc_id"), lit(5)) === 3, jpeg)
        .otherwise(webp)
      Multimodal.decodeBinary(
          documents(s, d).select(col("doc_id"),
            unhex(payloadHex).as("payload")), "payload")
        .select(col("doc_id"),
          col("decoded.width").as("width"),
          col("decoded.height").as("height"),
          col("decoded.n_frames").as("n_frames"))
        .orderBy(col("doc_id"))
    },

    // ---- cross-source duplication matrix --------------------------------
    // The sf fixtures are dup-free across sources, so both engines
    // derive the same mirrored view first: the 10% hash sample
    // re-appears as a full "mirror_a" dump and its even-id half as
    // "mirror_b" — then the overlap matrix counts shared normalized
    // contents per source pair (same hash as ext_dedup_exact).
    Q("ext_source_overlap", {
      val samp = s"${h32("CAST(doc_id AS VARCHAR)")} % 100 < 10"
      s"""WITH aug AS (
         |  SELECT source, text FROM documents
         |  UNION ALL SELECT 'mirror_a' AS source, text
         |    FROM documents WHERE $samp
         |  UNION ALL SELECT 'mirror_b' AS source, text
         |    FROM documents WHERE ($samp) AND doc_id % 2 = 0),
         |hs AS (SELECT DISTINCT $normMd5Sql AS h, source FROM aug),
         |c AS (SELECT h FROM hs GROUP BY h HAVING count(*) <= 64),
         |p AS (SELECT x.source AS src_a, y.source AS src_b
         |  FROM hs x JOIN hs y ON x.h = y.h AND x.source < y.source
         |  JOIN c ON c.h = x.h)
         |SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_shared
         |FROM p GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin
    }) { (s, d) =>
      val docs0 = documents(s, d)
      val samp =
        TextFns.hash32(col("doc_id").cast("string")) % 100 < 10
      val aug = docs0.select(col("source"), col("text"))
        .unionAll(docs0.filter(samp)
          .select(lit("mirror_a").as("source"), col("text")))
        .unionAll(docs0.filter(samp && col("doc_id") % 2 === 0)
          .select(lit("mirror_b").as("source"), col("text")))
      Dedup.sourceOverlap(aug, "text", "source")
        .orderBy(col("src_a"), col("src_b"))
    },

    // Sentence segmentation: REAL prose synthesized from doc_id
    // arithmetic (1-4 sentences, mixed ./!/? terminators) through the
    // real lookbehind splitter; the oracle regenerates each expected
    // sentence (terminator included) arithmetically — DuckDB's RE2 has
    // no lookbehind, which is exactly why the oracle must re-derive
    // rather than re-split.
    Q("ext_sentences",
      """WITH s AS (SELECT d.doc_id, r.i,
        | 'Sent ' || CAST(r.i AS VARCHAR) || ' of doc ' ||
        |  CAST(d.doc_id % 50 AS VARCHAR) ||
        |  (CASE (d.doc_id + r.i) % 3 WHEN 0 THEN '.'
        |   WHEN 1 THEN '!' ELSE '?' END) AS sent
        | FROM documents d, range(4) r(i)
        | WHERE r.i <= d.doc_id % 4)
        |SELECT doc_id, CAST(i AS INT) AS sent_idx, sent AS sentence
        |FROM s ORDER BY doc_id, sent_idx""".stripMargin) { (sp, dir) =>
      TextAnalysis.sentences(sentenceDocs(sp, dir), "doc_id", "prose")
        .select(col("doc_id"), col("sent_idx"), col("sentence"))
        .orderBy(col("doc_id"), col("sent_idx"))
    },

    // Sentence-aware chunking (never splits a sentence): greedy
    // prefix-sum assignment mirrored as window arithmetic in the
    // oracle, chunk text re-joined with string_agg ORDER BY.
    Q("ext_sentence_chunks",
      """WITH s AS (SELECT d.doc_id, r.i,
        | 'Sent ' || CAST(r.i AS VARCHAR) || ' of doc ' ||
        |  CAST(d.doc_id % 50 AS VARCHAR) ||
        |  (CASE (d.doc_id + r.i) % 3 WHEN 0 THEN '.'
        |   WHEN 1 THEN '!' ELSE '?' END) AS sent
        | FROM documents d, range(4) r(i)
        | WHERE r.i <= d.doc_id % 4),
        |a AS (SELECT doc_id, i, sent,
        |  CAST(coalesce(sum(length(sent) + 1) OVER (
        |    PARTITION BY doc_id ORDER BY i
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |   // 40 AS INT) AS chunk_id
        | FROM s)
        |SELECT doc_id, chunk_id,
        | CAST(count(*) AS INT) AS n_sentences,
        | string_agg(sent, ' ' ORDER BY i) AS chunk_text
        |FROM a GROUP BY doc_id, chunk_id
        |ORDER BY doc_id, chunk_id""".stripMargin) { (sp, dir) =>
      TextAnalysis.sentenceChunks(sentenceDocs(sp, dir), "doc_id",
          "prose", maxChars = 40)
        .orderBy(col("doc_id"), col("chunk_id"))
    }
  )

  /** Synthetic multi-sentence prose per doc for the sentence gates. */
  private def sentenceDocs(sp: org.apache.spark.sql.SparkSession,
                           dir: String) = {
    val id = col("doc_id")
    val sents = transform(sequence(lit(0L), pmod(id, lit(4))), i =>
      concat(lit("Sent "), i.cast("string"), lit(" of doc "),
        pmod(id, lit(50)).cast("string"),
        element_at(array(lit("."), lit("!"), lit("?")),
          (pmod(id + i, lit(3)) + 1).cast("int"))))
    documents(sp, dir).select(id,
      array_join(sents, " ").as("prose"))
  }
}
