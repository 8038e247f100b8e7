package graft.queries

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.functions.TextFunctions.Sql
import graft.operators.Dedup

/** Text-analysis + dedup operator surface over `documents`
  * (SURVEY.md north-star extensions: language-ID, quality scoring,
  * token counting, fingerprinting, exact + MinHash/SimHash dedup).
  * Oracles are generated from [[TextFunctions.Sql]] so Spark and DuckDB
  * definitions stay in lockstep.
  */
object TextQueries {
  import QueryDef._

  /** The ONE chunking contract shared by t20 (chunk table) and t22
    * (sequence packing): fixed-size overlapping token windows. Changing
    * any of these three numbers (or the window formula) changes both
    * queries together — they can't drift apart. */
  private val ChunkSize = 20
  private val ChunkOverlap = 5
  private val ChunkStride = ChunkSize - ChunkOverlap

  /** t41's (and s21's) full-recompute oracle: t21's recursive-CTE
    * closure restricted to SURVIVORS of the doc_id % 7 = 3 takedown —
    * shared verbatim between the batch delete and its streamed fold,
    * so the two surfaces cannot drift. (Defined before `all`.) */
  private[graft] val clusterDeletesOracle: String =
    s"""WITH RECURSIVE
       |sh AS (SELECT doc_id, ${Sql.shingleSet("text", 3)} AS s FROM documents
       |       WHERE doc_id % 7 <> 3),
       |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |      WHERE ${Sql.listJaccard("a.s", "b.s")} >= 0.5),
       |e(src, dst) AS (SELECT id_a, id_b FROM p UNION ALL SELECT id_b, id_a FROM p),
       |reach(a, b) AS (
       |  SELECT DISTINCT src, src FROM e
       |  UNION
       |  SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src)
       |SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS rep_id
       |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin

  /** BPE training depth for t42/t43: enough rounds that multi-level
    * merges (an earlier output feeding a later pair) occur, small
    * enough that the DuckDB replay's k generated stages stay fast.
    * (Defined before `all` — the oracle builders read it at registry
    * construction.) */
  private val BpeTrainRounds = 12
  private[queries] val ByteBpeRounds = 10

  /** (doc_id, chunk_idx, chunk) — every document's overlapping token
    * windows, built entirely from codegen'd built-ins. */
  private def chunkedDocs(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val toks = TextFunctions.tokens(col("text"))
    val nc = greatest(
      ceil((size(toks) - ChunkOverlap).cast("double") / ChunkStride).cast("int"), lit(1))
    val chunks = transform(sequence(lit(0), nc - 1),
      i => array_join(slice(toks, i * ChunkStride + 1, lit(ChunkSize)), " "))
    docs.select(col("doc_id"), posexplode(chunks).as(Seq("chunk_idx", "chunk")))
  }

  /** DuckDB twin of [[chunkedDocs]]: CTE chain ending in
    * `c(doc_id, chunk_idx INT, chunk)`. */
  private def chunkCtes: String =
    s"""t AS (SELECT doc_id, string_split(${Sql.normalizeText("text")}, ' ') AS toks
       |      FROM documents),
       |n AS (SELECT doc_id, toks,
       |        greatest(CAST(ceil(CAST(len(toks) - $ChunkOverlap AS DOUBLE) / $ChunkStride.0) AS INT), 1) AS nc
       |      FROM t),
       |x AS (SELECT doc_id, toks, unnest(generate_series(0, nc - 1)) AS chunk_idx FROM n),
       |c AS (SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
       |        array_to_string(toks[chunk_idx * $ChunkStride + 1 : chunk_idx * $ChunkStride + $ChunkSize], ' ') AS chunk
       |      FROM x)""".stripMargin

  val all: Seq[QueryDef] = Seq(
    sql(
      "t01_token_stats",
      s"""SELECT doc_id, ${Sql.tokenCount("text")} AS n_tokens,
         |  CAST(length(text) AS INT) AS n_chars_actual
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"),
          length(col("text")).as("n_chars_actual"))
        .orderBy(col("doc_id"))
    },

    sql(
      "t02_fingerprint",
      s"""SELECT doc_id, ${Sql.fingerprint("text")} AS fp
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    },

    sql(
      "t03_dedup_exact",
      s"""SELECT fingerprint, keep_id, dup_count FROM (
         |  SELECT ${Sql.fingerprint("text")} AS fingerprint,
         |         CAST(min(doc_id) AS BIGINT) AS keep_id,
         |         count(*) AS dup_count
         |  FROM documents GROUP BY 1)
         |ORDER BY fingerprint""".stripMargin) { (s, d) =>
      Dedup.exact(Tables.documents(s, d), col("text"), col("doc_id"))
        .orderBy(col("fingerprint"))
    },

    sql(
      "t04_dedup_prefix_blocks",
      s"""SELECT pfp, CAST(min(doc_id) AS BIGINT) AS keep_id, count(*) AS dup_count
         |FROM (SELECT doc_id, ${Sql.prefixFingerprint("text", 50)} AS pfp FROM documents)
         |GROUP BY pfp HAVING count(*) > 1
         |ORDER BY pfp""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), TextFunctions.prefixFingerprint(col("text"), 50).as("pfp"))
        .groupBy(col("pfp"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_count"))
        .filter(col("dup_count") > 1)
        .orderBy(col("pfp"))
    },

    sql(
      "t05_lang_id",
      s"""SELECT doc_id, ${Sql.langId("text")} AS lang_pred
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), TextFunctions.langId(col("text")).as("lang_pred"))
        .orderBy(col("doc_id"))
    },

    sql(
      "t06_quality_score",
      s"""SELECT doc_id, ${Sql.qualityScore("text")} AS quality
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), TextFunctions.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))
    },

    // Rolling-hash fingerprint (md5-token fold — bit-identical twin).
    sql(
      "t07_rolling_fingerprint",
      s"""SELECT doc_id, ${Sql.rollingFingerprint("text")} AS rfp
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), TextFunctions.rollingFingerprint(col("text")).as("rfp"))
        .orderBy(col("doc_id"))
    },

    // MinHash signatures, fully oracled: HashOracleSql ports the
    // splitmix64 / polynomial-hash bit math to DuckDB via unsigned
    // HUGEINT modular arithmetic, so the signature longs hash-match an
    // independent implementation. Rendered as a CSV string: the
    // driver's pandas compare sorts row values and crashes on raw
    // array cells (unhashable numpy.ndarray).
    sql(
      "t08_minhash_signatures",
      HashOracleSql.minHashSignatures(n = 3, k = 16)) { (s, d) =>
      Dedup.minHashSignatures(Tables.documents(s, d), col("text"), col("doc_id"))
        .select(col("id"),
          array_join(col("minhash").cast("array<string>"), ",").as("minhash_csv"))
        .orderBy(col("id"))
    },

    // MinHash+LSH blocking + EXACT n-gram Jaccard verify. Oracled
    // against the all-pairs exact answer: 16 bands of 2 rows miss a
    // true pair at Jaccard j with probability (1−j²)^16 ≈ 3e-12 at the
    // corpus's near-dup level (j ≥ 0.9; nothing sits in (0.1, 0.9)), so
    // the blocked result equals the exhaustive one. RecallSpec measures
    // this; the hash-match proves it per-run.
    sql(
      "t09_minhash_neardup_pairs",
      s"""SELECT * FROM (
         |  WITH sh AS (SELECT doc_id, ${Sql.shingleSet("text", 3)} AS s FROM documents)
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    ${Sql.listJaccard("a.s", "b.s")} AS jaccard
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         |WHERE jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      Dedup.minHashPairsVerified(Tables.documents(s, d), col("text"), col("doc_id"),
          threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))
    },

    // SimHash signatures, fully oracled (see t08).
    sql("t10_simhash", HashOracleSql.simHash) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), Dedup.simHash64(col("text")).as("simhash"))
        .orderBy(col("doc_id"))
    },

    // Exact n-gram Jaccard verify stage over deterministic blocking
    // (prefix-fingerprint pairs — the t04 blocks) → full DuckDB oracle.
    // The LSH-candidate variant of the same verify runs in t09.
    sql(
      "t11_ngram_jaccard_pairs",
      s"""WITH sh AS (
         |  SELECT doc_id, ${Sql.prefixFingerprint("text", 50)} AS pfp,
         |         ${Sql.shingleSet("text", 3)} AS s
         |  FROM documents)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  ${Sql.listJaccard("a.s", "b.s")} AS jaccard
         |FROM sh a JOIN sh b ON a.pfp = b.pfp AND a.doc_id < b.doc_id
         |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      val keyed = Tables.documents(s, d).select(
        col("doc_id"), col("text"),
        TextFunctions.prefixFingerprint(col("text"), 50).as("pfp"))
      keyed.select(col("pfp"), col("doc_id").as("id_a"), col("text").as("text_a"))
        .join(keyed.select(col("pfp"), col("doc_id").as("id_b"), col("text").as("text_b")), "pfp")
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          round(Dedup.ngramJaccard(col("text_a"), col("text_b"), 3), 4).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    },

    // Corpus-level term weighting: TF-IDF with smoothed IDF
    // ln((N+1)/(df+1)), top-3 terms per doc (ties broken by term).
    // Unlike the per-row text ops, this is a genuinely distributed
    // two-stage pipeline: per-doc term counts join corpus document
    // frequencies (both keyed shuffles with map-side partial agg).
    sql(
      "t15_tfidf_top_terms",
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split(${Sql.normalizeText("text")}, ' ')) AS term
         |  FROM documents),
         |tf AS (
         |  SELECT doc_id, term, count(*) AS tf FROM toks WHERE term <> ''
         |  GROUP BY doc_id, term),
         |df AS (
         |  SELECT term, count(DISTINCT doc_id) AS dfreq FROM tf GROUP BY term),
         |n AS (SELECT count(*) AS n FROM documents),
         |scored AS (
         |  SELECT tf.doc_id, tf.term,
         |    round(tf.tf * ln((n.n + 1.0) / (df.dfreq + 1.0)), 6) AS tfidf
         |  FROM tf JOIN df USING (term) CROSS JOIN n),
         |ranked AS (
         |  SELECT doc_id, term, tfidf,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk
         |  FROM scored)
         |SELECT doc_id, CAST(rk AS INT) AS rk, term, tfidf
         |FROM ranked WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      // corpus size N joins in as a broadcast 1-row aggregate — computed
      // inside the one job, not a separate driver-side count() pass, and
      // the plan stays reusable (N is not baked in as a literal)
      val nDf = docs.agg(count(lit(1)).as("n_docs"))
      val tf = docs
        .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("term"))
        .filter(col("term") =!= "")
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("term"))
        .agg(countDistinct(col("doc_id")).as("dfreq"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term"))
      tf.join(dfreq, "term")
        .crossJoin(broadcast(nDf))
        .select(col("doc_id"), col("term"),
          round(col("tf") * log((col("n_docs") + 1.0) / (col("dfreq") + 1.0)), 6).as("tfidf"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("rk"), col("term"), col("tfidf"))
        .orderBy(col("doc_id"), col("rk"))
    },

    // PII redaction: emails/URLs/number runs tagged out before text
    // enters a corpus; output carries per-pattern counts + the redacted
    // text fingerprint so the scrub is verifiable end-to-end.
    sql(
      "t14_redact",
      s"""SELECT doc_id,
         |  ${Sql.redactionCount("text", TextFunctions.redactionPatterns(0)._1)} AS n_emails,
         |  ${Sql.redactionCount("text", TextFunctions.redactionPatterns(1)._1)} AS n_urls,
         |  ${Sql.redactionCount("text", TextFunctions.redactionPatterns(2)._1)} AS n_nums,
         |  md5(${Sql.redact("text")}) AS redacted_fp
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          TextFunctions.redactionCount(col("text"), TextFunctions.redactionPatterns(0)._1).as("n_emails"),
          TextFunctions.redactionCount(col("text"), TextFunctions.redactionPatterns(1)._1).as("n_urls"),
          TextFunctions.redactionCount(col("text"), TextFunctions.redactionPatterns(2)._1).as("n_nums"),
          md5(TextFunctions.redact(col("text")).cast("binary")).as("redacted_fp"))
        .orderBy(col("doc_id"))
    },

    // SimHash banded near-dup pairs (hamming ≤ 3 via 4×16-bit bands +
    // popcount verify), oracled against the EXHAUSTIVE all-pairs
    // hamming filter (the banding is lossless at ≤3 bits by pigeonhole;
    // RecallSpec asserts it) — so the hash-match verifies both the
    // signature kernel and the banding.
    sql(
      "t12_simhash_neardup_pairs",
      HashOracleSql.simHashPairs(maxHamming = 3)) { (s, d) =>
      Dedup.simHashPairs(Tables.documents(s, d), col("text"), col("doc_id"))
        .orderBy(col("id_a"), col("id_b"))
    },

    // Benchmark decontamination: 8-gram overlap of every corpus doc
    // against the eval subset (doc_id % 97 == 0 stands in for a held-out
    // benchmark). The Spark side joins 64-bit shingle hashes against the
    // broadcast eval-set union; the oracle intersects the shingle
    // STRING sets — equal counts modulo 64-bit collisions (t09's
    // argument), so the hash-match verifies kernel and pipeline.
    sql(
      "t16_decontaminate",
      s"""WITH sh AS (SELECT doc_id, ${Sql.shingleSet("text", 8)} AS s FROM documents),
         |ev AS (SELECT coalesce(list_distinct(flatten(list(s) FILTER (WHERE doc_id % 97 = 0))),
         |                       []::VARCHAR[]) AS es FROM sh)
         |SELECT doc_id AS id, CAST(len(s) AS INT) AS n_shingles,
         |  CAST(len(list_intersect(s, es)) AS BIGINT) AS n_shared,
         |  round(CAST(len(list_intersect(s, es)) AS DOUBLE)
         |        / greatest(len(s), 1), 4) AS contamination
         |FROM sh CROSS JOIN ev WHERE doc_id % 97 <> 0 ORDER BY id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      Dedup.contamination(
          docs.filter(col("doc_id") % 97 =!= 0),
          docs.filter(col("doc_id") % 97 === 0),
          col("text"), col("doc_id"), n = 8)
        .orderBy(col("id"))
    },

    // t16's removal verdict, reversed into the eval-integrity AUDIT:
    // per (benchmark item, training doc) pair, how many n-grams they
    // share and how much of the ITEM is covered — the report an eval
    // owner reads to decide retractions. Audits use a finer grain
    // (n=4) than removal (n=8): removal optimizes precision, audits
    // recall. Same broadcast-eval/no-text-shuffle shape as t16; the
    // oracle intersects shingle STRING sets (t09's collision argument).
    sql(
      "t58_contamination_report",
      s"""WITH sh AS (SELECT doc_id, ${Sql.shingleSet("text", 4)} AS s FROM documents),
         |ev AS (SELECT doc_id AS eval_id, s AS es FROM sh WHERE doc_id % 97 = 0),
         |c AS (SELECT doc_id, s FROM sh WHERE doc_id % 97 <> 0)
         |SELECT ev.eval_id, c.doc_id,
         |  CAST(len(list_intersect(c.s, ev.es)) AS BIGINT) AS n_shared,
         |  round(CAST(len(list_intersect(c.s, ev.es)) AS DOUBLE) / len(ev.es), 4) AS overlap_frac
         |FROM c CROSS JOIN ev WHERE len(list_intersect(c.s, ev.es)) > 0
         |ORDER BY eval_id, doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      Dedup.contaminationReport(
          docs.filter(col("doc_id") % 97 =!= 0),
          docs.filter(col("doc_id") % 97 === 0),
          col("text"), col("doc_id"), n = 4)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("eval_id"), col("doc_id"))
    },

    // Raw-HTML boilerplate extraction — the stage BEFORE every other
    // t-operator: strip script/style/comments, unwrap CDATA, tags →
    // line structure, entity-decode in a fixed order, then the
    // text-density line filter (≥5 tokens keeps prose, drops nav
    // chrome/titles/footers). The fixture wraps each document's text
    // in a deterministic HTML shell (nav + header + footer + one
    // adversarial arm per doc_id%4: comment, entity soup, CDATA,
    // BROKEN markup with an unclosed tag) — built from the SAME SQL
    // expression in both engines — and the oracle replays every kernel
    // stage as regexp/list CTEs, so the whole contract is pinned
    // cross-engine down to the md5 of the extracted text. ONE kernel
    // pass per row (project-level CSE; t18's discipline), no shuffle
    // but the output sort.
    sql(
      "t59_html_extract",
      s"""WITH ${htmlExtractCtes(dupArticle = false)}
         |SELECT doc_id, CAST(len(ls) AS BIGINT) AS n_lines,
         |  CAST(len(coalesce(list_aggregate(ls, 'string_agg', chr(10)), '')) AS BIGINT) AS n_chars_kept,
         |  md5(coalesce(list_aggregate(ls, 'string_agg', chr(10)), '')) AS text_fp
         |FROM l ORDER BY doc_id""".stripMargin) { (s, d) =>
      val page = expr(htmlPageSql(id = "CAST(doc_id AS STRING)"))
      Tables.documents(s, d)
        .select(col("doc_id"),
          graft.expressions.HtmlExtract.htmlExtract(page).as("x"))
        .select(col("doc_id"),
          when(length(col("x")) === 0, 0L)
            .otherwise(size(split(col("x"), "\n", -1)).cast("long")).as("n_lines"),
          length(col("x")).cast("long").as("n_chars_kept"),
          md5(col("x").cast("binary")).as("text_fp"))
        .orderBy(col("doc_id"))
    },

    // INTRA-document duplicate-line removal — C4's line-level dedup
    // stage (navigation chrome and lorem blocks repeat INSIDE a page;
    // cross-doc span dedup t49/t50 can't see them): keep each line's
    // FIRST occurrence, preserve order, drop the rest. The whole
    // operator is a pure row map over array expressions — keep line i
    // iff its first position in the doc's line list IS i (no explode,
    // no shuffle; the O(lines²) in-row scan is bounded by page size,
    // and the kernel-upgrade path is a per-row hash set if lines ever
    // number thousands). Fixture: the doc's tokens chunked into 8-token
    // lines with every third line re-appended as a duplicate — built
    // from the same expression shape in both engines (Spark 0-based
    // lambda indexes ⇄ DuckDB 1-based, offset explicitly).
    sql(
      "t64_dedup_lines",
      s"""WITH tl AS (
         |  SELECT doc_id, list_filter(string_split(${Sql.normalizeText("text")}, ' '), x -> x <> '') AS t
         |  FROM documents),
         |ln AS (
         |  SELECT doc_id, list_transform(generate_series(0, (len(t) - 1) // 8),
         |    i -> array_to_string(t[(i*8+1):(i*8+8)], ' ')) AS ls
         |  FROM tl WHERE len(t) >= 1),
         |fx AS (SELECT doc_id, ls || list_filter(ls, (l, i) -> (i - 1) % 3 = 0) AS raw FROM ln),
         |dd AS (SELECT doc_id, raw, list_filter(raw, (l, i) -> list_position(raw, l) = i) AS kept FROM fx)
         |SELECT doc_id, CAST(len(raw) AS BIGINT) AS n_lines_in,
         |  CAST(len(kept) AS BIGINT) AS n_lines_out,
         |  md5(array_to_string(kept, chr(10))) AS text_fp
         |FROM dd ORDER BY doc_id""".stripMargin) { (s, d) =>
      val toks = filter(TextFunctions.tokens(col("text")), t => t =!= lit(""))
      Tables.documents(s, d)
        .select(col("doc_id"), toks.as("t"))
        .filter(size(col("t")) >= 1)
        .withColumn("ls", transform(
          sequence(lit(0), ((size(col("t")) - 1) / lit(8)).cast("int")),
          i => array_join(slice(col("t"), i * 8 + 1, lit(8)), " ")))
        .withColumn("raw", concat(col("ls"),
          filter(col("ls"), (_, i) => i % 3 === 0)))
        .withColumn("kept", filter(col("raw"),
          (l, i) => array_position(col("raw"), l) === (i + 1).cast("long")))
        .select(col("doc_id"),
          size(col("raw")).cast("long").as("n_lines_in"),
          size(col("kept")).cast("long").as("n_lines_out"),
          md5(array_join(col("kept"), "\n").cast("binary")).as("text_fp"))
        .orderBy(col("doc_id"))
    },

    // The WHOLE crawl-preprocessing chain as one query — raw HTML in,
    // clean gated corpus out: t59's extraction kernel → t64's
    // intra-page line dedup (the fixture re-emits the article
    // paragraph for every fifth doc; the stage must remove it) →
    // t17/t19's language/quality gates, all PER-ROW (one corpus scan,
    // no shuffle but the output sort; gate kernels behind the Generate
    // barrier so the filter can't re-derive them). This is the
    // composition a crawl pipeline actually runs, end to end, oracled
    // as one SQL: t59's stage CTEs → the first-occurrence line filter
    // → the t19 gate twins.
    sql("t65_crawl_pipeline", crawlPipelineOracle) { (s, d) =>
      crawlGate(crawlVerdicts(Tables.documents(s, d)))
        .orderBy(col("doc_id"))
    },

    // Iterative LINK ANALYSIS — PageRank with dangling-mass
    // redistribution (t66): the crawl-prioritization stage (which
    // pages are worth fetching/keeping is a link-centrality decision;
    // the CC family t21/t40/t41 answers reachability, not importance).
    // 8 synchronous rounds, per round one rank⋈edges join + one
    // partial+final sum by dst + a 1-row broadcast dangling aggregate;
    // per-edge contributions quantize to 1e-9 integers (t53's
    // discipline on a graph iteration), so ranks are BIT-IDENTICAL
    // functions of the graph and the oracle replays the entire
    // iteration in static MATERIALIZED CTEs. Fixture: a deterministic
    // 3-out-regular graph over doc ids (three affine maps mod N), with
    // every 11th doc DANGLING so the mass-conservation arm is live.
    sql("t66_link_rank", {
      val nodesSql = "SELECT doc_id AS id FROM documents"
      val edgesSql = (1 to 3).map(k =>
        s"SELECT doc_id AS src, (doc_id * ${6 + k} + $k) % " +
          "(SELECT count(*) FROM documents) AS dst FROM documents WHERE doc_id % 11 <> 0")
        .mkString(" UNION ALL ")
      s"""WITH ${graft.operators.LinkRank.oracleSql(nodesSql, edgesSql)}
         |SELECT id AS doc_id, rank FROM prf ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      val docs = Tables.documents(s, d)
      val nN = docs.count()
      val nodes = docs.select(col("doc_id").as("id"))
      val edges = docs.filter(col("doc_id") % 11 =!= 0)
        .select(col("doc_id").as("src"), explode(array(
          (col("doc_id") * 7 + 1) % nN,
          (col("doc_id") * 8 + 2) % nN,
          (col("doc_id") * 9 + 3) % nN)).as("dst"))
      graft.operators.LinkRank.pagerank(nodes, edges)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },

    // t66 made INCREMENTAL — warm-start rank maintenance (the t56
    // pattern on a graph): a crawl delta adds the third edge family;
    // instead of re-paying 8 rounds over the grown graph, 4
    // continuation rounds run FROM THE PUBLISHED rank table (the 1e-9
    // grid is the phase-boundary contract — the iteration is
    // memoryless beyond its rank vector, so replaying from the stored
    // artifact is bit-identical to the run that wrote it). Oracle:
    // the phased replay — 8 rounds on the old edges, the grid floor,
    // 4 rounds on the full edges — all static MATERIALIZED CTEs.
    sql("t67_link_rank_update", {
      val nodesSql = "SELECT doc_id AS id FROM documents"
      def arm(k: Int) =
        s"SELECT doc_id AS src, (doc_id * ${6 + k} + $k) % " +
          "(SELECT count(*) FROM documents) AS dst FROM documents WHERE doc_id % 11 <> 0"
      val oldEdges = (1 to 2).map(arm).mkString(" UNION ALL ")
      val allEdges = (1 to 3).map(arm).mkString(" UNION ALL ")
      s"""WITH ${graft.operators.LinkRank.oracleSqlPhased(nodesSql,
             Seq(oldEdges -> 8, allEdges -> 4))}
         |SELECT id AS doc_id, rank FROM prf ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      val docs = Tables.documents(s, d)
      val nN = docs.count()
      val nodes = docs.select(col("doc_id").as("id"))
      def arm(k: Int) = (col("doc_id") * (6 + k) + k) % nN
      val base = docs.filter(col("doc_id") % 11 =!= 0)
      val oldEdges = base.select(col("doc_id").as("src"),
        explode(array(arm(1), arm(2))).as("dst"))
      val allEdges = base.select(col("doc_id").as("src"),
        explode(array(arm(1), arm(2), arm(3))).as("dst"))
      val stored = graft.operators.LinkRank.pagerank(nodes, oldEdges)
      graft.operators.LinkRank.continueFrom(nodes, allEdges, stored, rounds = 4)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },

    // EXACT containment similarity join (t77) — prefix filtering
    // (Bayardo et al. WWW 2007): unlike the MinHash families'
    // probabilistic recall, the blocking is LOSSLESS (pigeonhole over
    // the ⌊(1−τ)·na⌋+1 smallest shingle hashes), so the oracle needs
    // NO blocking replay at all — it is the pure quadratic semantics.
    // Containment (|S(a)∩S(b)|/|S(a)|, small→big) is the asymmetric
    // measure that catches a short doc quoted inside a long one where
    // Jaccard is near zero. The verify threshold is integer-exact
    // (inter·10 ≥ na·7) — no float in any decision.
    sql(
      "t77_containment_join", containmentOracle("TRUE")) { (s, d) =>
      Dedup.containmentJoin(Tables.documents(s, d), col("text"), col("doc_id"),
          n = 3, tauP = 7, tauQ = 10)
        .orderBy(col("small_id"), col("big_id"))
    },

    // WEIGHTED sampling WITHOUT replacement (t76) — Efraimidis &
    // Spirakis 2006 (A-ES): each doc draws key = ln(u)/w with u a
    // deterministic md5-derived uniform and w its quality weight
    // (n_chars here); the k largest keys ARE a weighted sample without
    // replacement. The one-pass, top-k-only answer to "sample 25 docs
    // proportionally to quality from 100 TB" — no global sort, no
    // second pass, no RNG state (t17's md5 discipline upgraded from
    // uniform to weighted). u = (md5_52bit + 1) / (2^52 + 1) ∈ (0,1],
    // so ln never sees 0; keys round to 12 dp before ranking (ln-ulp
    // insurance), ties break on doc_id.
    sql(
      "t76_weighted_sample",
      """SELECT doc_id, w, k FROM (
        |  SELECT doc_id, CAST(greatest(n_chars, 1) AS BIGINT) AS w,
        |    round(ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) + 1.0)
        |      / 4503599627370497.0) / greatest(n_chars, 1) + 1e-15, 12) AS k
        |  FROM documents)
        |ORDER BY k DESC, doc_id LIMIT 25""".stripMargin) { (s, d) =>
      val w = greatest(col("n_chars"), lit(1L))
      val u = (conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 13),
        16, 10).cast("long") + lit(1.0)) / lit(4503599627370497.0)
      Tables.documents(s, d)
        .select(col("doc_id"), w.cast("long").as("w"),
          round(log(u) / w + lit(1e-15), 12).as("k"))
        .orderBy(col("k").desc, col("doc_id"))
        .limit(25)
    },

    // COMMUNITY DETECTION by label propagation (t75) — the third graph
    // operator: components (t21) answer reachability, PageRank (t66)
    // importance, LPA the densely-linked clusters (site sections,
    // mirror farms) a pipeline samples or caps BY. Deterministic
    // synchronous variant: mode-of-neighbors + self-vote, ties to the
    // smallest label — all integer arithmetic, so the oracle replays
    // the entire iteration exactly. Fixture: 23 planted communities
    // (per-class star + member chain) with every 17th doc wiring one
    // cross-class noise edge the voting must out-weigh.
    sql("t75_link_communities", {
      val nodesSql = "SELECT doc_id AS id FROM documents"
      val edgesSql =
        """SELECT doc_id AS src, doc_id % 23 AS dst FROM documents WHERE doc_id >= 23
          | UNION ALL SELECT doc_id AS src, doc_id - 23 AS dst FROM documents WHERE doc_id >= 46
          | UNION ALL SELECT doc_id AS src, (doc_id * 3 + 1) % 23 AS dst
          |   FROM documents WHERE doc_id % 17 = 0 AND doc_id >= 23""".stripMargin
      s"""WITH ${graft.operators.Communities.oracleSql(nodesSql, edgesSql, rounds = 4)}
         |SELECT id AS doc_id, lbl AS community FROM lp4 ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      val docs = Tables.documents(s, d)
      val v = col("doc_id")
      val nodes = docs.select(v.as("id"))
      val edges = docs.filter(v >= 23).select(v.as("src"), (v % 23).as("dst"))
        .unionByName(docs.filter(v >= 46).select(v.as("src"), (v - 23).as("dst")))
        .unionByName(docs.filter(v % 17 === 0 && v >= 23)
          .select(v.as("src"), ((v * 3 + 1) % 23).as("dst")))
      graft.operators.Communities.labelPropagation(nodes, edges, rounds = 4)
        .select(col("id").as("doc_id"), col("lbl").as("community"))
        .orderBy(col("doc_id"))
    },

    // Exact-substring dedup at CHARACTER granularity (t49 below the
    // k-token grid): every MAXIMAL substring of >= 40 normalized chars
    // shared verbatim across documents — the suffix-array-ExactSubstr
    // contract (Lee et al. 2022) delivered as stride-1 rolling-hash
    // windows + interval merge: one text pass, two shuffles, text
    // never leaves hash space (SpanDedup.duplicateCharSpans). The
    // oracle is a genuine SUBSTRING twin — DuckDB compares the actual
    // 40-char windows, so a kernel hash collision would FAIL the gate,
    // not hide behind a replayed hash.
    sql(
      "t69_exact_substrings",
      HashOracleSql.duplicateCharSpans(L = 40)) { (s, d) =>
      graft.operators.SpanDedup.duplicateCharSpans(
          Tables.documents(s, d), col("text"), col("doc_id"), L = 40)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"), col("span_start"))
    },

    // t69 made INCREMENTAL — char-level span detection for the
    // arriving increment (doc_id % 5 = 0, the t25/t51 split) against
    // the persisted CHAR-gram index of the existing corpus: a new
    // doc's window qualifies iff the stored index holds it or >= 2 new
    // docs carry it == t69's full-corpus qualification restricted to
    // the increment. The old corpus's text is never re-scanned; the
    // index side shuffles bare hashes. Oracle: full-recompute equality
    // (the t51 claim form) over actual substrings.
    sql(
      "t70_incremental_substrings",
      HashOracleSql.duplicateCharSpans(L = 40, emitPred = Some("doc_id % 5 = 0"))) { (s, d) =>
      graft.operators.SpanDedup.charSpansAgainstIndex(
          Tables.documents(s, d).filter(col("doc_id") % 5 === 0),
          col("text"), col("doc_id"), charSpanIndex(s, d), L = 40)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"), col("span_start"))
    },

    // The cut on top of t69's char-level detection (t50's rule one
    // rung down the grid): keep the globally FIRST occurrence of every
    // cross-document 40-char window, remove all others from the
    // NORMALIZED text, emit a patch table of only the affected
    // documents. Reconstruction is a per-row fold over the
    // dimension-sized cut-interval list (gap concatenation) after
    // broadcasting the per-doc lists — text never shuffles. Oracle
    // rebuilds the cleaned text char-by-char over actual substrings
    // (string_agg of uncovered positions), so the engine's
    // segment-concatenation fold is verified position-exactly.
    sql(
      "t71_cut_substrings",
      HashOracleSql.cutCharSpans(L = 40)) { (s, d) =>
      graft.operators.SpanDedup.cutDuplicateCharSpans(
          Tables.documents(s, d), col("text"), col("doc_id"), L = 40)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },

    // Stratified deterministic sampling: per-language quota rates
    // rebalance a skewed corpus (the dominant language keeps 1/16, the
    // tail keeps 1/2) — the training-mix rebalancing step, done as a
    // PURE MAP: md5-bucket membership per row, no RNG, no shuffle,
    // reproducible across engines, runs, and partitionings (q25's
    // primitive, stratified).
    sql(
      "t17_stratified_sample",
      s"""SELECT doc_id, ${Sql.langId("text")} AS lang_pred
         |FROM documents
         |WHERE CASE WHEN ${Sql.langId("text")} = 'en'
         |           THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'
         |           ELSE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8' END
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      // Single-pass lang_id: the quota predicate decomposes as
      //   keep ⇔ (h < '8') ∧ (h = '0' ∨ lang ≠ 'en')
      // (h = '0' keeps the row in BOTH branches, h ≥ '8' drops it in
      // both — only h ∈ 1..7 consults the language). The cheap md5
      // conjunct filters BEFORE the kernel, and lang_id sits inside a
      // Generate (explode of a 1-element array) — the one barrier
      // predicate pushdown cannot substitute through — so the kernel
      // runs exactly once per surviving row instead of twice per corpus
      // row (filter + collapsed projection, as through r5). Plan gate:
      // PlanQualitySpec counts one lang_id and asserts the quota
      // conjunct lands below the Generate.
      val h = substring(md5(col("doc_id").cast("string").cast("binary")), 1, 1)
      Tables.documents(s, d)
        .filter(h < "8")
        .select(col("doc_id"), h.as("h"),
          explode(array(TextFunctions.langId(col("text")))).as("lang_pred"))
        .filter(col("h") === "0" || col("lang_pred") =!= "en")
        .select(col("doc_id"), col("lang_pred"))
        .orderBy(col("doc_id"))
    },

    // Intra-document repetition quality signals (the Gopher/C4-style
    // filters): duplicate-token fraction + modal-bigram fraction, one
    // fused kernel pass per row (both outputs consumed from one select;
    // project-level CSE runs the kernel once — CodegenParitySpec).
    // +1e-9 nudge before round on both sides (qualityScore precedent).
    sql(
      "t18_repetition_stats",
      s"""SELECT doc_id,
         |  round(${Sql.dupTokenFrac("text")} + 1e-9, 4) AS dup_token_frac,
         |  round(${Sql.topBigramFrac("text")} + 1e-9, 4) AS top_bigram_frac
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      val rep = TextFunctions.repetitionStats(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id"),
          round(element_at(rep, 1) + lit(1e-9), 4).as("dup_token_frac"),
          round(element_at(rep, 2) + lit(1e-9), 4).as("top_bigram_frac"))
        .orderBy(col("doc_id"))
    },

    // The end-to-end TRAINING-MIX pipeline — the composition a real
    // pretraining-data run executes as one declarative plan:
    //   1. drop held-out eval docs (doc_id % 97 = 0 — t16's split);
    //   2. exact-dedup, keep the min-doc_id copy per fingerprint (t03);
    //   3. drop benchmark-contaminated docs (any shared 8-gram with the
    //      eval set — t16's broadcast-shingle join);
    //   4. language-ID + quality + repetition gates (t05/t06/t18);
    //   5. per-language stratified md5 quota (t17's rates);
    // output the surviving mix with its per-doc metadata. Every stage is
    // a kernel or a key-shuffle/broadcast join that holds at corpus
    // scale — no content shuffle, no all-pairs anywhere.
    sql(
      "t19_training_mix",
      trainingMixOracle) { (s, d) =>
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(col("doc_id") % 97 =!= 0)
      // dedup keepers over the FULL corpus (dedup precedes filtering in
      // a real mix: the kept copy represents its duplicate group)
      val keepers = Dedup.exact(docs, col("text"), col("doc_id"))
        .select(col("keep_id").as("doc_id"))
      // decontamination verdicts for every non-eval doc (broadcast eval
      // shingles — t16's shape, corpus never content-shuffled)
      val clean = Dedup.contamination(
          corpus, docs.filter(col("doc_id") % 97 === 0),
          col("text"), col("doc_id"), n = 8)
        .filter(col("n_shared") === 0)
        .select(col("id").as("doc_id"))
      val rep = TextFunctions.repetitionStats(col("text"))
      val h = substring(md5(col("doc_id").cast("string").cast("binary")), 1, 1)
      // all four kernels ride ONE struct inside a Generate barrier (the
      // t17 trick): predicate pushdown would otherwise re-derive each
      // kernel in the collapsed filter AND the projection (7 kernel
      // evals/row measured from the plan; 4 with the barrier) — the
      // non-kernel conjuncts (eval split, md5 quota hash) still push to
      // the scan side. Plan gate: one occurrence of each kernel.
      corpus
        .select(col("doc_id"), h.as("h"),
          explode(array(struct(
            TextFunctions.langId(col("text")).as("lang_pred"),
            TextFunctions.qualityScore(col("text")).as("quality"),
            TextFunctions.tokenCount(col("text")).as("n_tokens"),
            round(element_at(rep, 1) + lit(1e-9), 4).as("dup_token_frac")))).as("k"))
        .join(keepers, "doc_id")
        .join(clean, "doc_id")
        .filter(col("k.quality") >= 0.5 && col("k.lang_pred") =!= "und" &&
          col("k.dup_token_frac") <= 0.9 &&
          when(col("k.lang_pred") === "en", col("h") === "0").otherwise(col("h") < "8"))
        .select(col("doc_id"), col("k.lang_pred").as("lang_pred"),
          col("k.quality").as("quality"), col("k.n_tokens").as("n_tokens"))
        .orderBy(col("doc_id"))
    },

    // Near-dup CLUSTERS from near-dup pairs: connected components with
    // min-id representative — the dedup decision real pipelines make
    // (pairs (a,b),(b,c) collapse to one kept doc even when a–c never
    // surfaced as a pair). Spark side: min-label propagation over the
    // t09 verified pairs, O(diameter) keyed-join rounds. Oracle: DuckDB
    // recursive-CTE transitive closure over the exhaustive exact-Jaccard
    // pair set (== the blocked set, t09's argument), min reachable id.
    sql(
      "t21_dedup_clusters",
      s"""WITH RECURSIVE
         |sh AS (SELECT doc_id, ${Sql.shingleSet("text", 3)} AS s FROM documents),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |      WHERE ${Sql.listJaccard("a.s", "b.s")} >= 0.5),
         |e(src, dst) AS (SELECT id_a, id_b FROM p UNION ALL SELECT id_b, id_a FROM p),
         |reach(a, b) AS (
         |  SELECT DISTINCT src, src FROM e
         |  UNION
         |  SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src)
         |SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS rep_id
         |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin) { (s, d) =>
      val pairs = Dedup.minHashPairsVerified(
        Tables.documents(s, d), col("text"), col("doc_id"), threshold = 0.5)
      Dedup.connectedComponents(pairs.select(col("id_a"), col("id_b")))
        .select(col("id").as("doc_id"), col("rep").as("rep_id"))
        .orderBy(col("doc_id"))
    },

    // Canonical-document selection — t21's clusters closed with the
    // decision they exist for: keep the best-quality member per
    // cluster (ties to the lowest id), singletons keep themselves.
    // RefinedWeb/Dolma keep the best member, not an arbitrary one —
    // pairwise keep-the-min can drop the good copy. One verdict row
    // per document (keep flag) so the filter composes downstream.
    // Oracle: t21's recursive-CTE closure + the t06 quality twin +
    // the same per-cluster rank.
    sql(
      "t27_canonical_docs",
      canonicalDocsOracle) { (s, d) =>
      val docs = Tables.documents(s, d)
      val pairs = Dedup.minHashPairsVerified(docs, col("text"), col("doc_id"), threshold = 0.5)
      Dedup.canonicalPerCluster(
          docs.select(col("doc_id"), TextFunctions.qualityScore(col("text")).as("quality")),
          col("doc_id"), col("quality"),
          pairs.select(col("id_a"), col("id_b")))
        .select(col("id").as("doc_id"), col("cluster"),
          col("score").as("quality"), col("keep"))
        .orderBy(col("doc_id"))
    },

    // Passage-level dedup (CCNet/Dolma line-dedup over 10-token
    // windows): only the corpus-wide FIRST occurrence of each distinct
    // passage survives; documents re-assemble from their surviving
    // passages. Election is a partial+final min-aggregate keyed by the
    // passage fingerprint — NOT a window over passage text — so a
    // mass-duplicated boilerplate passage map-side-combines instead of
    // landing on one reducer, and text moves exactly once (the id-keyed
    // keep-set join; see Dedup.passageDedup). Oracle re-derives the
    // same election with a row_number window (quadratic-safe at oracle
    // SF) and fingerprints the re-assembled text.
    sql(
      "t28_passage_dedup",
      s"""WITH t AS (SELECT doc_id, string_split(${Sql.normalizeText("text")}, ' ') AS toks
         |           FROM documents),
         |n AS (SELECT doc_id, toks,
         |        greatest(CAST(ceil(CAST(len(toks) AS DOUBLE) / 10.0) AS INT), 1) AS np
         |      FROM t),
         |x AS (SELECT doc_id, toks, unnest(generate_series(0, np - 1)) AS p_idx FROM n),
         |p AS (SELECT doc_id, CAST(p_idx AS INT) AS p_idx,
         |        array_to_string(toks[p_idx * 10 + 1 : p_idx * 10 + 10], ' ') AS passage
         |      FROM x),
         |k AS (SELECT doc_id, p_idx, passage,
         |        row_number() OVER (PARTITION BY md5(passage) ORDER BY doc_id, p_idx) AS rk
         |      FROM p)
         |SELECT doc_id, CAST(count(*) AS INT) AS n_passages,
         |  CAST(count(*) FILTER (WHERE rk = 1) AS INT) AS n_kept,
         |  md5(COALESCE(array_to_string(
         |    list(passage ORDER BY p_idx) FILTER (WHERE rk = 1), ' '), '')) AS clean_fp
         |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      Dedup.passageDedup(Tables.documents(s, d), col("text"), col("doc_id"), passageTokens = 10)
        .select(col("id").as("doc_id"), col("n_passages"), col("n_kept"),
          md5(col("clean").cast("binary")).as("clean_fp"))
        .orderBy(col("doc_id"))
    },

    // Leakage-safe train/val/test split: split assignment keyed on the
    // near-dup CLUSTER (t21's components), not the document — a
    // doc-keyed random split puts near-copies of validation documents
    // into train and silently inflates eval scores; cluster-keyed
    // assignment makes that impossible by construction. Assignment is
    // the deterministic md5-bucket primitive on the cluster id (no RNG,
    // reproducible across engines/runs/partitionings). Oracle: t21's
    // recursive-CTE closure + the same md5 CASE.
    sql(
      "t29_leakage_split",
      leakageSplitOracle) { (s, d) =>
      Dedup.leakageSafeSplit(Tables.documents(s, d), col("text"), col("doc_id"),
          threshold = 0.5)
        .select(col("id").as("doc_id"), col("cluster"), col("split"))
        .orderBy(col("doc_id"))
    },

    // Document chunking: fixed-size token windows with overlap — the
    // standard step that turns variable-length documents into
    // training-sample-sized pieces (size 20, overlap 5 → stride 15 at
    // the fixture's ~50-token docs ≈ 4 chunks/doc). Composed ENTIRELY
    // from codegen'd built-ins (sequence → transform → slice →
    // array_join → posexplode) — the preferred extension path when the
    // built-ins can express the semantics; no custom kernel, no UDF.
    // Each chunk carries its token count and content fingerprint so
    // chunk-level dedup (t03's primitive) composes directly. Chunk
    // construction is shared with t22 (chunkedDocs / chunkCtes below) —
    // one definition, so the two queries cannot drift apart.
    sql(
      "t20_chunk_documents",
      s"""WITH $chunkCtes
         |SELECT doc_id, chunk_idx,
         |  CAST(len(string_split(chunk, ' ')) AS INT) AS n_chunk_tokens,
         |  md5(chunk) AS chunk_fp
         |FROM c ORDER BY doc_id, chunk_idx""".stripMargin) { (s, d) =>
      chunkedDocs(Tables.documents(s, d))
        .select(col("doc_id"), col("chunk_idx"),
          size(split(col("chunk"), " ")).as("n_chunk_tokens"),
          md5(col("chunk").cast("binary")).as("chunk_fp"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    },

    // Sequence packing — concatenate-and-chop: each md5 SHARD's chunk
    // token stream is conceptually concatenated and chopped into
    // 512-token training sequences; every chunk is located by the
    // (seq_id, seq_offset) where it BEGINS, so a chunk near a boundary
    // SPANS into the next sequence (consumers chop, not pad — the
    // GPT-style packing discipline; no sequence is "overfull" because
    // sequences are windows over the stream, not bins). Scale-sane
    // windowing: the running sum is PARTITIONED by shard, so packing
    // parallelizes instead of one global ordered scan; seq_id/offset
    // are pure integer arithmetic (no float portability surface).
    sql(
      "t22_sequence_packing",
      s"""WITH $chunkCtes,
         |cc AS (SELECT doc_id, chunk_idx,
         |         CAST(len(string_split(chunk, ' ')) AS BIGINT) AS n_tok,
         |         substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(chunk_idx AS VARCHAR)), 1, 1) AS shard
         |       FROM c),
         |w AS (SELECT shard, doc_id, chunk_idx, n_tok,
         |        sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id, chunk_idx
         |                         ROWS UNBOUNDED PRECEDING) AS cum
         |      FROM cc)
         |SELECT shard, doc_id, chunk_idx,
         |  CAST((cum - n_tok) // 512 AS BIGINT) AS seq_id,
         |  CAST((cum - n_tok) % 512 AS BIGINT) AS seq_offset
         |FROM w ORDER BY shard, doc_id, chunk_idx""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("shard"))
        .orderBy(col("doc_id"), col("chunk_idx"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      chunkedDocs(Tables.documents(s, d))
        .select(col("doc_id"), col("chunk_idx"),
          size(split(col("chunk"), " ")).cast("long").as("n_tok"),
          substring(md5(concat(col("doc_id").cast("string"), lit(":"),
            col("chunk_idx").cast("string")).cast("binary")), 1, 1).as("shard"))
        .withColumn("cum", sum(col("n_tok")).over(w))
        .select(col("shard"), col("doc_id"), col("chunk_idx"),
          expr("(cum - n_tok) div 512").as("seq_id"),
          ((col("cum") - col("n_tok")) % 512).as("seq_offset"))
        .orderBy(col("shard"), col("doc_id"), col("chunk_idx"))
    },

    // BPE-ish subword token estimate: letter runs + digit runs + each
    // punctuation mark (the common pre-tokenizer shape), with chars per
    // token — the sizing statistic an LLM-data pipeline budgets by.
    sql(
      "t13_bpe_token_estimate",
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS INT) AS n_bpe_tokens,
         |  round(CAST(length(text) AS DOUBLE)
         |        / greatest(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')), 1), 2) AS chars_per_token
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      val pat = lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]")
      val nTok = size(regexp_extract_all(col("text"), pat, lit(0)))
      Tables.documents(s, d)
        .select(col("doc_id"),
          nTok.as("n_bpe_tokens"),
          round(length(col("text")).cast("double") /
            greatest(nTok, lit(1)), 2).as("chars_per_token"))
        .orderBy(col("doc_id"))
    },

    // Source-level (domain) quality gate: keep documents whose SOURCE's
    // mean quality clears the corpus mean — the "drop low-quality
    // domains wholesale" step pipelines run before per-document
    // filters (RefinedWeb/C4 URL-level filtering). One kernel pass
    // over the corpus (per-source count+sum partials); the corpus mean
    // derives from the 20-row source table as sum(sq)/sum(n) — the
    // SAME two-level formula in both engines; verdicts broadcast back
    // onto a kernel-free second scan. Threshold compares the
    // bit-portable floor(x·1e4+0.5) rendering on both sides (v09
    // precedent), so a 1e-15 summation-order wobble can't flip a
    // verdict that the hash would see.
    sql(
      "t23_source_quality",
      s"""WITH q AS (SELECT doc_id, source, ${Sql.qualityScore("text")} AS q
         |           FROM documents WHERE source IS NOT NULL),
         |s AS (SELECT source, count(*) AS n, sum(q) AS sq FROM q GROUP BY source),
         |c AS (SELECT sum(sq) / sum(n) AS ca FROM s),
         |k AS (SELECT source, floor(sq / n * 10000 + 0.5) / 10000.0 AS src_quality
         |      FROM s, c WHERE floor(sq / n * 10000 + 0.5) >= floor(ca * 10000 + 0.5))
         |SELECT d.doc_id, d.source, k.src_quality
         |FROM documents d JOIN k USING (source) ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      // isNotNull(source) is stated HERE, not inferred: the verdict
      // branch's inner join would add it to only ITS side of the agg,
      // making the two per-source subtrees differ and blocking
      // ReuseExchange — which would re-run the kernel scan twice. With
      // both branches bit-identical, the corpus mean rides the same
      // shuffle as the verdicts (plan gate: one quality_score).
      val src = docs
        .filter(col("source").isNotNull)
        .select(col("source"), TextFunctions.qualityScore(col("text")).as("q"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("q")).as("sq"))
      val corpus = src.agg((sum(col("sq")) / sum(col("n"))).as("ca"))
      val kept = src.crossJoin(broadcast(corpus))
        .filter(floor(col("sq") / col("n") * 10000 + 0.5) >=
          floor(col("ca") * 10000 + 0.5))
        .select(col("source"),
          (floor(col("sq") / col("n") * 10000 + 0.5) / 10000.0).as("src_quality"))
      docs.select(col("doc_id"), col("source"))
        .join(broadcast(kept), "source")
        .select(col("doc_id"), col("source"), col("src_quality"))
        .orderBy(col("doc_id"))
    },

    // Temperature-based source mixture (the data-mix step: training
    // recipes upsample tail sources by w_s ∝ n_s^α): per-source token
    // totals in ONE kernel pass; weights from the 20-row source table.
    // α is fixed at 0.5 because sqrt is IEEE-754-exact in BOTH engines
    // — pow() is not correctly rounded and a 1-ulp libm divergence
    // could flip a quantized weight. Weight and epochs quantize to the
    // 1e-6 grid in sequence, so the fractional-epoch threshold is
    // derived from bit-identical doubles on both sides; the per-doc
    // extra-repeat draw is the md5-bucket primitive (q25/t17) compared
    // as fixed-width lowercase hex — a PURE MAP against the broadcast
    // mixture table. Content never shuffles; only (source, partials)
    // do. repeats = how many times the doc appears in a mix targeting
    // half the corpus' tokens.
    sql(
      "t24_mixture_repeats",
      s"""WITH s AS (SELECT source, sum(${Sql.tokenCount("text")}) AS n_tokens
         |           FROM documents WHERE source IS NOT NULL GROUP BY source),
         |t AS (SELECT sum(sqrt(n_tokens)) AS ss,
         |             CAST(floor(sum(n_tokens) * 0.5) AS BIGINT) AS budget FROM s),
         |w AS (SELECT source, n_tokens, budget,
         |        floor(sqrt(n_tokens) / ss * 1e6 + 0.5) / 1e6 AS weight FROM s, t),
         |e AS (SELECT source, weight,
         |        floor(budget * weight / n_tokens * 1e6 + 0.5) / 1e6 AS epochs FROM w),
         |f AS (SELECT source, weight, epochs,
         |        lpad(lower(hex(CAST(floor((epochs - floor(epochs)) * 16777216 + 0.5) AS BIGINT))), 6, '0') AS thr
         |      FROM e)
         |SELECT d.doc_id, d.source, f.weight, f.epochs,
         |  CAST(floor(f.epochs) AS INT) +
         |  (CASE WHEN substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6) < f.thr
         |        THEN 1 ELSE 0 END) AS repeats
         |FROM documents d JOIN f USING (source) ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).filter(col("source").isNotNull)
      val src = docs
        .select(col("source"), TextFunctions.tokenCount(col("text")).as("tok"))
        .groupBy(col("source"))
        .agg(sum(col("tok")).as("n_tokens"))
      val tot = src.agg(sum(sqrt(col("n_tokens"))).as("ss"),
        floor(sum(col("n_tokens")) * 0.5).as("budget"))
      val mix = src.crossJoin(broadcast(tot))
        .select(col("source"), col("n_tokens"), col("budget"),
          (floor(sqrt(col("n_tokens")) / col("ss") * 1e6 + 0.5) / 1e6).as("weight"))
        .select(col("source"), col("weight"),
          (floor(col("budget") * col("weight") / col("n_tokens") * 1e6 + 0.5) / 1e6).as("epochs"))
        .select(col("source"), col("weight"), col("epochs"),
          lpad(lower(hex(floor((col("epochs") - floor(col("epochs"))) * 16777216 + 0.5))),
            6, "0").as("thr"))
      docs.select(col("doc_id"), col("source"))
        .join(broadcast(mix), "source")
        .select(col("doc_id"), col("source"), col("weight"), col("epochs"),
          (floor(col("epochs")).cast("int") +
            when(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 6) < col("thr"), 1)
              .otherwise(0)).as("repeats"))
        .orderBy(col("doc_id"))
    },

    // Unigram surprisal — the perplexity-filter analog (CCNet-style
    // quality signal from the corpus's OWN language model, no external
    // LM): per-doc mean token surprisal −ln p(tok), p from corpus
    // unigram counts. Rare-token-heavy docs (gibberish, codes, OCR
    // noise) score high; stopword soup scores low. ONE corpus scan
    // builds the (doc, term, tf) table; the vocabulary and the grand
    // total derive from tf's aggregates (never a second text pass), and
    // the per-doc score is the tf-weighted mean over the doc's DISTINCT
    // terms — instance-exact but joining vocab against the much smaller
    // tf table. At 100 TB the vocab side is Zipf-small → broadcast it
    // (t16's eval-shingle shape) instead of the term-keyed shuffle.
    // ln() cross-engine: t15's precedent (hash-passes both SFs);
    // +1e-9 nudge before the 4-dp round absorbs summation-order noise.
    sql(
      "t26_unigram_surprisal",
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split(${Sql.normalizeText("text")}, ' ')) AS term
         |  FROM documents),
         |tf AS (
         |  SELECT doc_id, term, count(*) AS tf FROM toks WHERE term <> ''
         |  GROUP BY doc_id, term),
         |vocab AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY term),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM vocab),
         |per AS (
         |  SELECT tf.doc_id, tf.tf, ln(CAST(tot.t AS DOUBLE) / vocab.cnt) AS s
         |  FROM tf JOIN vocab USING (term) CROSS JOIN tot)
         |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
         |  round(sum(tf * s) / sum(tf) + 1e-9, 4) AS surprisal
         |FROM per GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val tf = Tables.documents(s, d)
        .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("term"))
        .filter(col("term") =!= "")
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val vocab = tf.groupBy(col("term")).agg(sum(col("tf")).as("cnt"))
      val tot = vocab.agg(sum(col("cnt")).as("t"))
      tf.join(vocab, "term")
        .crossJoin(broadcast(tot))
        .select(col("doc_id"), col("tf"),
          log(col("t").cast("double") / col("cnt")).as("s"))
        .groupBy(col("doc_id"))
        .agg(
          sum(col("tf")).as("n_tokens"),
          round(sum(col("tf") * col("s")) / sum(col("tf")) + 1e-9, 4).as("surprisal"))
        .orderBy(col("doc_id"))
    },

    // CONTINUAL classifier refresh (the warm-start path): weights
    // trained on the existing corpus (doc_id % 5 ≠ 0, 30 rounds)
    // continue for 10 more full-batch rounds when the increment lands —
    // full-batch GD is memoryless beyond its weights, so the refresh
    // costs only the new rounds, never a from-zero retrain. Scoring
    // serves the grown corpus under the refreshed weights. Oracle:
    // both training phases replayed in one static CTE chain (old-corpus
    // feats for rounds 1-30, full-corpus feats for 31-40).
    sql(
      "t56_classifier_refresh",
      graft.operators.TextClassifier.warmStartOracleSql(
        "text", "n_chars > 300", "doc_id", oldPred = "doc_id % 5 <> 0")) { (s, d) =>
      import graft.operators.TextClassifier
      TextClassifier.score(Tables.documents(s, d), col("text"), col("doc_id"),
          classifierLabel, refreshedWeights(s, d))
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },

    // t53's features GENERALIZED — fastText-style hashed-n-gram
    // classifier: word uni+bigrams hash into 64 buckets (the hashing
    // trick: no vocabulary, bounded memory), one learned weight per
    // bucket, trained by the same bit-portable distributed GD (softsign
    // link + 1e-6 integer gradient sums — one ≤66-row aggregate per
    // round reaches the driver). The oracle replays the ENTIRE 40-round
    // fit in static MATERIALIZED CTEs with LIST-valued weights — t53's
    // strongest-oracle pattern, now over 65 weights. Scoring is
    // SHUFFLE-FREE: the z fold runs inside the row over array
    // expressions (plan-gated: no explode, no join at serve).
    sql(
      "t62_hashed_classifier",
      graft.operators.HashedClassifier.oracleSql(
        "text", "n_chars > 300", "doc_id")) { (s, d) =>
      import graft.operators.HashedClassifier
      HashedClassifier.score(Tables.documents(s, d), col("text"), col("doc_id"),
          classifierLabel, hashedWeights(s, d))
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },

    // Bigram interpolated surprisal — t26's perplexity filter upgraded
    // to a first-order LM, still trained on the corpus's OWN text:
    // s(w2|w1) = −ln(0.7·c(w1,w2)/c(w1·) + 0.3·u(w2)/T), per-doc
    // bf-weighted mean. The LM is fully derived from the ONE bigram
    // count table (context totals = row sums, target unigrams = column
    // sums, T = grand sum — no second corpus pass), which is
    // Zipf-small and BROADCASTS onto the per-doc side; the only
    // corpus-sized shuffles are the (doc, bigram) partial+final count
    // and the per-doc mean. Docs under 2 tokens emit nothing. ln()
    // cross-engine per t26/t15 precedent (+1e-9 nudge, 4-dp round).
    sql(
      "t55_bigram_surprisal",
      bigramSurprisalSql(emitPred = None)) { (s, d) =>
      // the (doc, bigram, bf) table is the LM's training artifact AND
      // the scoring input — materialize it ONCE (eager localCheckpoint,
      // the star-contraction idiom; at cluster scale: persist/write it)
      // so the four LM aggregates and the per-doc side all read the
      // materialized rows instead of re-running the tokenize kernel
      // per consumer (join-implied filters make the branches
      // non-identical, so exchange reuse alone cannot dedup them)
      val bg = bigramCounts(Tables.documents(s, d)).localCheckpoint()
      bigramScore(bg, bg.groupBy(col("g")).agg(sum(col("bf")).as("c")))
    },

    // t55 made INCREMENTAL — the LM is a pure count table, so
    // maintenance is one associative merge: the stored (bigram, count)
    // index of the existing corpus (doc_id % 5 ≠ 0, persisted once per
    // dir) absorbs the increment's counts, and only the increment's
    // text runs the tokenize kernel. Scoring the increment under the
    // MERGED LM equals the full-corpus recompute restricted to the new
    // docs (the LM is corpus-global; per-doc restriction is emission
    // only — the t51 claim form applied to the LM family).
    sql(
      "t57_incremental_surprisal",
      bigramSurprisalSql(emitPred = Some("doc_id % 5 = 0"))) { (s, d) =>
      val bgNew = bigramCounts(
        Tables.documents(s, d).filter(col("doc_id") % 5 === 0)).localCheckpoint()
      val merged = bigramLmIndex(s, d)
        .unionByName(bgNew.groupBy(col("g")).agg(sum(col("bf")).as("c")))
        .groupBy(col("g")).agg(sum(col("c")).as("c"))
      bigramScore(bgNew, merged)
    },

    // t55 CONDITIONED PER LANGUAGE (CCNet's actual design): each
    // document is scored under its OWN language's bigram LM — a
    // Wikipedia-quality zh doc must not look "surprising" merely
    // because the corpus is mostly en. Same one-pass shape as t55:
    // the (doc, lang, bigram, bf) table is built once (the lang key
    // rides the same tokenize kernel pass — no second corpus scan),
    // all three LM tables derive from it per language and stay
    // Zipf-small × n_langs, so they still BROADCAST; joins key on
    // (lang, gram). ln()/nudge/round per t55's precedent.
    sql(
      "t60_lang_surprisal",
      s"""WITH tl AS (
         |  SELECT doc_id, lang, list_filter(string_split(${Sql.normalizeText("text")}, ' '), x -> x <> '') AS t
         |  FROM documents),
         |bg0 AS (
         |  SELECT doc_id, lang, unnest(list_transform(generate_series(1, len(t) - 1),
         |    i -> t[i] || ' ' || t[i+1])) AS g
         |  FROM tl WHERE len(t) >= 2),
         |bg AS (SELECT doc_id, lang, g, count(*) AS bf FROM bg0 GROUP BY doc_id, lang, g),
         |bi AS (SELECT lang, g, CAST(sum(bf) AS BIGINT) AS c FROM bg GROUP BY lang, g),
         |ctx AS (SELECT lang, split_part(g, ' ', 1) AS w1, CAST(sum(c) AS BIGINT) AS cw FROM bi GROUP BY 1, 2),
         |uni AS (SELECT lang, split_part(g, ' ', 2) AS w2, CAST(sum(c) AS BIGINT) AS u FROM bi GROUP BY 1, 2),
         |tot AS (SELECT lang, CAST(sum(c) AS BIGINT) AS t FROM bi GROUP BY lang),
         |per AS (
         |  SELECT bg.doc_id, bg.lang, bg.bf,
         |    -ln((0.7 * (CAST(bi.c AS DOUBLE) / ctx.cw)) + (0.3 * (CAST(uni.u AS DOUBLE) / tot.t))) AS s
         |  FROM bg JOIN bi ON bi.lang = bg.lang AND bi.g = bg.g
         |  JOIN ctx ON ctx.lang = bg.lang AND ctx.w1 = split_part(bg.g, ' ', 1)
         |  JOIN uni ON uni.lang = bg.lang AND uni.w2 = split_part(bg.g, ' ', 2)
         |  JOIN tot ON tot.lang = bg.lang)
         |SELECT doc_id, lang, CAST(sum(bf) AS BIGINT) AS n_bigrams,
         |  round(sum(bf * s) / sum(bf) + 1e-9, 4) AS surprisal
         |FROM per GROUP BY doc_id, lang ORDER BY doc_id""".stripMargin) { (s, d) =>
      val toks = filter(TextFunctions.tokens(col("text")), t => t =!= lit(""))
      val bg = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), toks.as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id"), col("lang"), explode(expr(
          "transform(slice(toks, 1, size(toks) - 1), (t, i) -> concat(t, ' ', toks[i + 1]))")).as("g"))
        .groupBy(col("doc_id"), col("lang"), col("g"))
        .agg(count(lit(1)).as("bf"))
        .withColumn("w1", substring_index(col("g"), " ", 1))
        .withColumn("w2", substring_index(col("g"), " ", -1))
        .localCheckpoint()
      val bi = bg.groupBy(col("lang"), col("g")).agg(sum(col("bf")).as("c"))
      val ctx = bi.groupBy(col("lang"), substring_index(col("g"), " ", 1).as("w1"))
        .agg(sum(col("c")).as("cw"))
      val uni = bi.groupBy(col("lang"), substring_index(col("g"), " ", -1).as("w2"))
        .agg(sum(col("c")).as("u"))
      val tot = bi.groupBy(col("lang")).agg(sum(col("c")).as("t"))
      bg
        .join(broadcast(bi), Seq("lang", "g"))
        .join(broadcast(ctx), Seq("lang", "w1"))
        .join(broadcast(uni), Seq("lang", "w2"))
        .join(broadcast(tot), Seq("lang"))
        .select(col("doc_id"), col("lang"), col("bf"),
          (-log((lit(0.7) * (col("c").cast("double") / col("cw"))) +
            (lit(0.3) * (col("u").cast("double") / col("t"))))).as("s"))
        .groupBy(col("doc_id"), col("lang"))
        .agg(sum(col("bf")).cast("long").as("n_bigrams"),
          round(sum(col("bf") * col("s")) / sum(col("bf")) + 1e-9, 4).as("surprisal"))
        .orderBy(col("doc_id"))
    },

    // Kneser-Ney-smoothed TRIGRAM LM surprisal, conditioned per
    // language (t55/t60's interpolated bigram upgraded to the
    // smoothing CCNet-class quality filters actually run): interpolated
    // KN with absolute discount D = 0.75 at both levels —
    //   P(w3|w1w2) = max(c(w1w2w3)-D,0)/c(w1w2)
    //              + D·N1+(w1w2·)/c(w1w2) · P_KN(w3|w2)
    //   P_KN(w3|w2) = max(N1+(·w2w3)-D,0)/N1+(·w2·)
    //               + D·N1+(w2·)/N1+(·w2·) · N1+(·w3)/|distinct w2w3|
    // where every lower-order quantity is a CONTINUATION count (how
    // many distinct contexts, not how often) — the KN insight that
    // "francisco" is frequent but follows only "san". Every scored
    // trigram is IN the LM (the corpus trains on itself, the t55
    // contract), so no zero-denominator path exists. ALL tables derive
    // from the ONE per-doc trigram count table (one tokenize pass,
    // localCheckpoint, then groupBys + broadcast joins back — no
    // corpus re-scan at serve, plan-gated). Incremental maintenance is
    // NOT a t57 pure-sum merge — the continuation counts are COUNT
    // DISTINCTs that don't add — but the corpus trigram table IS pure
    // sums, and every distinct count re-derives exactly from its
    // merged key set: t79 persists that table and proves the equality.
    // Oracle replays the discount/backoff arithmetic in CTEs with
    // identical parenthesization (t60's ln/nudge/round discipline).
    sql(
      "t68_kneser_ney",
      s"""$knOracleSql
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      knSurprisal(s, d).orderBy(col("doc_id"))
    },

    // CCNet's actual BUCKETING stage (t78): split the corpus into
    // head/middle/tail perplexity terciles PER LANGUAGE over t68's KN
    // surprisal — the decision table CCNet feeds downstream (keep
    // head, LM-filter middle, drop tail). Terciles are RANK-exact:
    // ntile(3) over (lang; surprisal, doc_id) — the 4-dp-rounded
    // surprisal plus the id tie-break make the frame ordering (and so
    // the bucket boundaries) deterministic in both engines; ntile's
    // rows-as-even-as-possible split is the same standard definition
    // in Spark and DuckDB. One lang-partitioned window on top of the
    // t68 chain — no extra corpus scan.
    sql(
      "t78_perplexity_buckets",
      s"""SELECT doc_id, lang, n_trigrams, surprisal,
         |  CAST(ntile(3) OVER (PARTITION BY lang ORDER BY surprisal, doc_id) AS INT) AS bucket
         |FROM ($knOracleSql) b
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      knSurprisal(s, d)
        .withColumn("bucket", ntile(3).over(
          Window.partitionBy(col("lang")).orderBy(col("surprisal"), col("doc_id"))))
        .orderBy(col("doc_id"))
    },

    // INCREMENTAL Kneser-Ney maintenance (t79) — the claim t68 made in
    // prose, proven as a gate: the continuation counts (N1+ families)
    // are COUNT DISTINCTs and do NOT merge as sums (an increment
    // re-observing a known (w2,w3) pair must not bump n1p), so the
    // persisted state is the corpus TRIGRAM count table (lang, g, c) —
    // pure sums, merged by key — and every distinct count RE-DERIVES
    // from the merged table's key set. The old corpus (doc_id % 5 ≠ 0)
    // enters only through its stored trigram parquet; the increment
    // (doc_id % 5 = 0) pays one tokenize pass; scoring the increment
    // against the merged LM must equal the FULL-corpus rebuild (t68's
    // oracle restricted to the new docs — any distinct-merge error
    // shifts a continuation count and fails the hash).
    sql(
      "t79_kneser_ney_incremental", knIncrementOracle) { (s, d) =>
      val tgNew = knTrigrams(
        Tables.documents(s, d).filter(col("doc_id") % 5 === 0)).localCheckpoint()
      knScoreIncrement(s, d, tgNew)
    },

    // Per-source DATA CARD (t80) — the datasheet a 100 TB pipeline
    // publishes per crawl/source (Gebru et al. 2021 "Datasheets for
    // Datasets" made operational): ONE ~20-row report composing the
    // engine's audit families — volume (docs, tokens), language
    // (dominant detected lang + share), quality/repetition means
    // (t06/t18 kernels, t23's bit-portable floor-quantized rendering),
    // exact-dup rate (t03's fingerprint), benchmark contamination
    // (t58's shingle join, doc_id % 97 eval split), and CCNet
    // perplexity-tail share (t68/t78's KN terciles). Scale shape:
    // three kernel families, each ONE corpus pass — the narrow per-doc
    // feature table is materialized once (t72's idiom) and feeds both
    // its aggregations plus the leg joins; contamination and KN reuse
    // their families' own one-pass chains; everything after the
    // per-doc tables is source-cardinality and broadcasts.
    sql("t80_source_data_card", dataCardOracle) { (s, d) =>
      val all = Tables.documents(s, d)
      val nz = all.filter(col("source").isNotNull)
      dataCardServe(
        dataCardFeat(nz).localCheckpoint(),
        graft.operators.Dedup.contaminationShingles(
          nz.filter(col("doc_id") % 97 =!= 0), col("text"), col("doc_id"), n = 4),
        graft.operators.Dedup.contaminationShingles(
          nz.filter(col("doc_id") % 97 === 0), col("text"), col("doc_id"), n = 4),
        knTrigrams(all).localCheckpoint())
    },

    // Per-source data-card DIFF between two crawl snapshots (t81) —
    // the monitoring read a pipeline does per refresh: did a source's
    // volume / dominant language / quality / duplication move between
    // crawls? Snapshots are the doc_id parity halves; the whole diff
    // is ONE kernel pass over the corpus (the half tag rides the same
    // t80 feature table), per-(source, half) aggregation, and a
    // source-cardinality FULL OUTER self-join — sources that appear
    // or vanish between crawls surface as NULL-sided rows instead of
    // dropping silently. Means are floor-quantized at 4 dp on BOTH
    // engines (t23's bit-portable rendering).
    sql(
      "t81_data_card_diff",
      s"""WITH f AS (SELECT doc_id, source, doc_id % 2 AS half,
         |             ${Sql.langId("text")} AS lang_det,
         |             ${Sql.tokenCount("text")} AS tok, ${Sql.qualityScore("text")} AS q,
         |             ${Sql.fingerprint("text")} AS fp
         |           FROM documents WHERE source IS NOT NULL),
         |a AS (SELECT source, half, count(*) AS n_docs,
         |        CAST(sum(tok) AS BIGINT) AS tokens,
         |        CAST(sum(CAST(round(q * 10000) AS BIGINT)) AS BIGINT) AS sq,
         |        count(DISTINCT fp) AS nuniq
         |      FROM f GROUP BY source, half),
         |ltop AS (SELECT source, half, lang_det AS top_lang FROM (
         |    SELECT source, half, lang_det,
         |      row_number() OVER (PARTITION BY source, half
         |        ORDER BY count(*) DESC, lang_det) AS rn
         |    FROM f GROUP BY source, half, lang_det) x WHERE rn = 1),
         |card AS (SELECT a.source, a.half, a.n_docs, a.tokens,
         |           floor(a.sq / a.n_docs + 0.5) / 10000.0 AS mq,
         |           floor((a.n_docs - a.nuniq) * 10000.0 / a.n_docs + 0.5) / 10000.0 AS dup_pct,
         |           ltop.top_lang
         |         FROM a JOIN ltop ON ltop.source = a.source AND ltop.half = a.half)
         |SELECT COALESCE(o.source, n.source) AS source,
         |  COALESCE(o.n_docs, 0) AS docs_old, COALESCE(n.n_docs, 0) AS docs_new,
         |  COALESCE(o.tokens, 0) AS tokens_old, COALESCE(n.tokens, 0) AS tokens_new,
         |  o.mq AS q_old, n.mq AS q_new,
         |  CASE WHEN o.mq IS NOT NULL AND n.mq IS NOT NULL
         |       THEN floor((n.mq - o.mq) * 10000 + 0.5) / 10000.0 END AS q_delta,
         |  o.dup_pct AS dup_old, n.dup_pct AS dup_new,
         |  o.top_lang AS top_lang_old, n.top_lang AS top_lang_new,
         |  COALESCE(o.top_lang <> n.top_lang, TRUE) AS lang_changed
         |FROM (SELECT * FROM card WHERE half = 0) o
         |FULL JOIN (SELECT * FROM card WHERE half = 1) n ON o.source = n.source
         |ORDER BY source""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val feat = dataCardFeat(
          Tables.documents(s, d).filter(col("source").isNotNull))
        .withColumn("half", pmod(col("doc_id"), lit(2)))
        .localCheckpoint() // ONE kernel pass feeds both halves' cards
      val a = feat.groupBy(col("source"), col("half")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("tok")).as("tokens"),
        sum(round(col("q") * 10000).cast("long")).as("sq"), // exact: see dataCardServe
        countDistinct(col("fp")).as("nuniq"))
      val ltop = feat.groupBy(col("source"), col("half"), col("lang_det"))
        .agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("source"), col("half"))
            .orderBy(col("c").desc, col("lang_det"))))
        .filter(col("rn") === 1)
        .select(col("source"), col("half"), col("lang_det").as("top_lang"))
      val card = a.join(broadcast(ltop), Seq("source", "half"))
        .select(col("source"), col("half"), col("n_docs"), col("tokens"),
          (floor(col("sq") / col("n_docs") + 0.5) / 10000.0).as("mq"),
          (floor((col("n_docs") - col("nuniq")) * 10000.0 / col("n_docs") + 0.5) / 10000.0)
            .as("dup_pct"),
          col("top_lang"))
      val o = card.filter(col("half") === 0)
        .select(col("source"), col("n_docs").as("o_docs"), col("tokens").as("o_tokens"),
          col("mq").as("q_old"), col("dup_pct").as("dup_old"),
          col("top_lang").as("top_lang_old"))
      val n = card.filter(col("half") === 1)
        .select(col("source"), col("n_docs").as("n_docs2"), col("tokens").as("n_tokens"),
          col("mq").as("q_new"), col("dup_pct").as("dup_new"),
          col("top_lang").as("top_lang_new"))
      o.join(n, Seq("source"), "full_outer")
        .select(col("source"),
          coalesce(col("o_docs"), lit(0L)).as("docs_old"),
          coalesce(col("n_docs2"), lit(0L)).as("docs_new"),
          coalesce(col("o_tokens"), lit(0L)).as("tokens_old"),
          coalesce(col("n_tokens"), lit(0L)).as("tokens_new"),
          col("q_old"), col("q_new"),
          when(col("q_old").isNotNull && col("q_new").isNotNull,
            floor((col("q_new") - col("q_old")) * 10000 + 0.5) / 10000.0)
            .as("q_delta"),
          col("dup_old"), col("dup_new"),
          col("top_lang_old"), col("top_lang_new"),
          coalesce(col("top_lang_old") =!= col("top_lang_new"), lit(true))
            .as("lang_changed"))
        .orderBy(col("source"))
    },

    // DSIR data selection (Xie et al. 2023): importance-resample the
    // raw corpus toward a target distribution using hashed-n-gram bag
    // likelihood ratios — the published scale answer to "pick the 20%
    // of a 100 TB crawl that looks like Wikipedia". Target here = the
    // long-doc proxy t62 trains on (n_chars > 300); features = t62's
    // verified 64-bucket uni+bigram hash. Fitting is one ≤64-row
    // aggregation; scoring is a shuffle-free codegen fold per row with
    // λ as a plan literal; selection is a row-local threshold on the
    // ROUNDED weight (no global rank — scale-safe by construction).
    sql(
      "t72_dsir_selection",
      graft.operators.Dsir.oracleSql(
        "text", "n_chars > 300", "doc_id", threshold = 0.0)) { (s, d) =>
      import graft.operators.Dsir
      // ONE hash-kernel pass: the narrow (id, t, bk) feature table is
      // materialized once (t55's localCheckpoint idiom) and feeds both
      // the ≤64-row fit aggregate and the shuffle-free scoring map
      val feat = Dsir.features(Tables.documents(s, d), col("text"),
        col("doc_id"), col("n_chars") > 300).localCheckpoint()
      Dsir.scoreFeatures(feat, Dsir.fitFromFeatures(feat), threshold = 0.0)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },

    // Unigram-LM tokenizer TRAINING (SentencePiece, Kudo 2018, hard-EM
    // variant) — the third tokenizer family beside merge-BPE (t42) and
    // byte-BPE (t61). One corpus tokenize pass builds the Zipf-small
    // distinct-word table; every EM round is a Viterbi kernel row map
    // over THAT table + one ≤|vocab|-row count aggregate to the driver
    // (t42's discipline). Costs are integer-quantized (−ln(p)·1e6) and
    // the (cost, joined-seg) tie-break is append-monotone, so the
    // oracle's brute-force path enumeration (recursive CTE, bounded by
    // MaxWord=12) picks the identical segmentation — final counts are
    // exact integers.
    sql(
      "t73_unigram_train",
      graft.operators.UnigramLm.trainOracleSql("text")) { (s, d) =>
      graft.operators.UnigramLm.vocabTable(s, unigramVocab(s, d))
        .orderBy(col("piece"))
    },

    // Unigram-LM tokenizer SERVING: per-doc word/piece counts +
    // fertility under the trained vocab — ONE shuffle-free codegen
    // kernel pass (the ≤48-candidate integer DP per word beats any
    // join; words longer than MaxWord fall back to single-char
    // pieces). The oracle replays the FULL training, then segments
    // every distinct doc word through the same enumeration.
    sql(
      "t74_unigram_tokens",
      graft.operators.UnigramLm.serveOracleSql("text", "doc_id")) { (s, d) =>
      graft.operators.UnigramLm.tokenStats(
          Tables.documents(s, d), col("text"), col("doc_id"), unigramVocab(s, d))
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },

    // Incremental dedup: the new crawl batch (doc_id % 5 = 0 stands in
    // for today's increment) matched against the PREBUILT signature
    // index of the existing corpus — written once per dir, read back
    // from parquet, the old corpus text never re-scanned. Verify is
    // stored-signature agreement (the MinHash Jaccard estimate), so the
    // whole query touches new-batch text + old signatures only. The
    // oracle replays banding AND agreement exactly (no recall
    // assumption — a bucket mismatch fails the hash compare).
    sql(
      "t25_incremental_dedup",
      HashOracleSql.incrementalNearDups(n = 3, k = 16, rowsPerBand = 4,
        threshold = 0.5, newPred = "doc_id % 5 = 0")) { (s, d) =>
      Dedup.incrementalNearDups(
          Tables.documents(s, d).filter(col("doc_id") % 5 === 0),
          col("text"), col("doc_id"), dedupIndex(s, d))
        .orderBy(col("new_id"), col("dup_of"))
    },

    // Source drift monitor: per-source distribution shift between two
    // corpus snapshots — the check a crawl pipeline runs before a new
    // snapshot enters the training mix. The ref/cur split is the
    // deterministic md5 half-bucket (t17/t22's RNG-free idiom; doc_id
    // PARITY is degenerate here — the fixture assigns ids round-robin
    // by source, so parity and source coincide). Language-mix drift is
    // PSI (population stability index, Σ (p_cur−p_ref)·ln(p_cur/p_ref))
    // over the per-source lang distribution, Laplace-smoothed (+0.5 per
    // cell) so a language appearing in only one snapshot stays finite;
    // length drift is the mean-n_chars delta, NULL when a snapshot half
    // is empty (guarded identically in both engines — ANSI Spark throws
    // on the bare division, DuckDB yields NaN; neither is the contract).
    // ONE corpus scan: everything after the (source, lang)
    // count-aggregate — totals, smoothing, PSI terms — runs on
    // dimension-sized rows via per-source windows, no self-join and no
    // second scan (plan-gated). ln() cross-engine per t15/t26
    // precedent; +1e-9 nudge before every 4-dp round.
    sql(
      "t30_source_drift",
      """WITH h AS (
        |  SELECT source, lang, n_chars,
        |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= '7' AS is_ref
        |  FROM documents),
        |c AS (
        |  SELECT source, lang,
        |    CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
        |    CAST(sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS n_cur,
        |    CAST(sum(CASE WHEN is_ref THEN n_chars ELSE 0 END) AS BIGINT) AS chars_ref,
        |    CAST(sum(CASE WHEN is_ref THEN 0 ELSE n_chars END) AS BIGINT) AS chars_cur
        |  FROM h GROUP BY source, lang),
        |w AS (
        |  SELECT source, lang, n_ref, n_cur, chars_ref, chars_cur,
        |    sum(n_ref) OVER ws AS tot_ref, sum(n_cur) OVER ws AS tot_cur,
        |    sum(chars_ref) OVER ws AS tchars_ref, sum(chars_cur) OVER ws AS tchars_cur,
        |    count(*) OVER ws AS n_lang
        |  FROM c WINDOW ws AS (PARTITION BY source)),
        |p AS (
        |  SELECT source, tot_ref, tot_cur, tchars_ref, tchars_cur, n_lang,
        |    (CAST(n_cur AS DOUBLE) + 0.5) / (tot_cur + 0.5 * n_lang) AS p_cur,
        |    (CAST(n_ref AS DOUBLE) + 0.5) / (tot_ref + 0.5 * n_lang) AS p_ref
        |  FROM w)
        |SELECT source,
        |  CAST(min(tot_ref) AS BIGINT) AS n_ref, CAST(min(tot_cur) AS BIGINT) AS n_cur,
        |  CAST(min(n_lang) AS BIGINT) AS n_lang,
        |  round(sum((p_cur - p_ref) * ln(p_cur / p_ref)) + 1e-9, 4) AS lang_psi,
        |  CASE WHEN min(tot_cur) = 0 OR min(tot_ref) = 0 THEN NULL
        |    ELSE round(CAST(min(tchars_cur) AS DOUBLE) / min(tot_cur)
        |       - CAST(min(tchars_ref) AS DOUBLE) / min(tot_ref) + 1e-9, 2) END AS mean_chars_delta
        |FROM p GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val isRef = Tables.inLowMd5Half(col("doc_id"))
      val c = Tables.documents(s, d)
        .groupBy(col("source"), col("lang"))
        .agg(
          sum(when(isRef, 1L).otherwise(0L)).as("n_ref"),
          sum(when(isRef, 0L).otherwise(1L)).as("n_cur"),
          sum(when(isRef, col("n_chars")).otherwise(0L)).as("chars_ref"),
          sum(when(isRef, 0L).otherwise(col("n_chars"))).as("chars_cur"))
      val ws = Window.partitionBy(col("source"))
      val w = c
        .withColumn("tot_ref", sum(col("n_ref")).over(ws))
        .withColumn("tot_cur", sum(col("n_cur")).over(ws))
        .withColumn("tchars_ref", sum(col("chars_ref")).over(ws))
        .withColumn("tchars_cur", sum(col("chars_cur")).over(ws))
        .withColumn("n_lang", count(lit(1)).over(ws))
      val p = w
        .withColumn("p_cur",
          (col("n_cur").cast("double") + 0.5) / (col("tot_cur") + col("n_lang") * 0.5))
        .withColumn("p_ref",
          (col("n_ref").cast("double") + 0.5) / (col("tot_ref") + col("n_lang") * 0.5))
      p.groupBy(col("source"))
        .agg(
          min(col("tot_ref")).as("n_ref"), min(col("tot_cur")).as("n_cur"),
          min(col("n_lang")).as("n_lang"),
          round(sum((col("p_cur") - col("p_ref")) * log(col("p_cur") / col("p_ref"))) + 1e-9, 4)
            .as("lang_psi"),
          when(min(col("tot_cur")) === 0 || min(col("tot_ref")) === 0, lit(null))
            .otherwise(round(min(col("tchars_cur")).cast("double") / min(col("tot_cur"))
              - min(col("tchars_ref")).cast("double") / min(col("tot_ref")) + 1e-9, 2))
            .as("mean_chars_delta"))
        .orderBy(col("source"))
    },

    // t27 in its PRODUCTION shape: canonical selection over a PREBUILT
    // near-dup components table (computed once per data dir, served
    // from parquet) — the amortized cost when several consumers share
    // one clustering. The end-to-end t27 keeps the CC cost visible in
    // the bench; this row shows what each additional consumer pays:
    // only the argmax window + id-keyed joins. Same oracle as t27 —
    // reusing a materialized clustering must not change a row.
    sql("t31_canonical_docs_prebuilt", canonicalDocsOracle) { (s, d) =>
      val docs = Tables.documents(s, d)
      Dedup.canonicalPerClusterOnComponents(
          docs.select(col("doc_id"), TextFunctions.qualityScore(col("text")).as("quality")),
          col("doc_id"), col("quality"),
          prebuiltComponents(s, d))
        .select(col("id").as("doc_id"), col("cluster"),
          col("score").as("quality"), col("keep"))
        .orderBy(col("doc_id"))
    },

    // The consumer story the delete ladder exists for: canonical
    // selection served from the DELETE-MAINTAINED components table —
    // t41's removeFromComponents output plugs straight into t31's
    // amortized consumer, so after a takedown the kept-document
    // decisions are exactly what a from-scratch re-cluster of the
    // surviving corpus would choose (a stale table would keep serving
    // the deleted doc's over-merged cluster, suppressing survivors
    // that should now be kept). Oracle: t31's canonical SQL with the
    // survivor predicate threaded through closure and scoring.
    sql("t45_canonical_after_deletes",
        canonicalDocsOracleFor("doc_id % 7 <> 3")) { (s, d) =>
      val survivors = Tables.documents(s, d).filter(col("doc_id") % 7 =!= 3)
      val deleted = Tables.documents(s, d).filter(col("doc_id") % 7 === 3)
        .select(col("doc_id").as("id"))
      val maintained = Dedup.removeFromComponents(
        prebuiltComponents(s, d), deleted, prebuiltPairs(s, d))
      Dedup.canonicalPerClusterOnComponents(
          survivors.select(col("doc_id"),
            TextFunctions.qualityScore(col("text")).as("quality")),
          col("doc_id"), col("quality"), maintained)
        .select(col("id").as("doc_id"), col("cluster"),
          col("score").as("quality"), col("keep"))
        .orderBy(col("doc_id"))
    },

    // Tokenizer-quality evaluation — the metric real pipelines compute
    // AFTER training a tokenizer (t42): per-language FERTILITY (BPE
    // tokens per word — 1.0 means every word is one token, higher
    // means fragmentation) and the single-char-fragment fraction (the
    // fallback-to-characters rate, the signal a vocabulary is too
    // small for a language). One corpus scan: the learned-table encode
    // kernel + the normalize kernel, per-lang partial+final sums of
    // exact integer counts (the ratios are deterministic — the nudge
    // is belt-and-braces). Oracle: the t42 training replay + t43's
    // per-word encode stages, classified and aggregated in SQL.
    sql("t46_bpe_fertility", {
      val k = BpeTrainRounds
      HashOracleSql.bpeFertility(k)
    }) { (s, d) =>
      import graft.expressions.Bpe
      val merges = trainedBpe(s, d).map(m => (m.x, m.y))
      Tables.documents(s, d)
        .select(col("lang"),
          size(filter(split(TextFunctions.normalizeText(col("text")), " "),
            w => length(w) > 0)).as("n_words"),
          explode(array(Bpe.encodeWith(col("text"), merges))).as("enc"))
        .select(col("lang"), col("n_words"),
          when(col("enc") === "", 0)
            .otherwise(size(split(col("enc"), "\\|"))).as("n_bpe"),
          size(filter(split(col("enc"), "\\|"), t => length(t) === 1)).as("n_single"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          round(sum(col("n_bpe")).cast("double") / sum(col("n_words")) + 1e-9, 4)
            .as("fertility"),
          round(sum(col("n_single")).cast("double") / sum(col("n_bpe")) + 1e-9, 4)
            .as("single_frac"))
        .orderBy(col("lang"))
    },

    // PII detection + redaction — the safety-filtering pass every
    // training-data pipeline runs before release (emails, phone
    // numbers): counts per document plus the md5 of the REDACTED text,
    // so the hash pins the exact replacement spans, not just "found
    // some". The corpus carries no PII, so both engines derive the
    // same pii-bearing view by deterministic doc_id arithmetic (the
    // q58 injection discipline, fixture-free); patterns use only
    // char classes/quantifiers/\b, which Java regex and DuckDB's RE2
    // interpret identically. One scan, all regexes codegen'd
    // built-ins — no UDF.
    sql(
      "t47_pii_redaction", {
        val email = "[a-z0-9._]+@[a-z0-9.]+\\.[a-z]{2,}"
        val phone = "\\b555-[0-9]{4}\\b"
        s"""WITH pii AS (
           |  SELECT doc_id,
           |    text || ' contact user' || doc_id || '@example' ||
           |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN '.com' WHEN 1 THEN '.org' ELSE '.net' END ||
           |    CASE WHEN doc_id % 2 = 0
           |         THEN ' or call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
           |         ELSE '' END AS t
           |  FROM documents)
           |SELECT doc_id,
           |  CAST(len(regexp_extract_all(t, '$email')) AS INT) AS n_emails,
           |  CAST(len(regexp_extract_all(t, '$phone')) AS INT) AS n_phones,
           |  md5(regexp_replace(regexp_replace(t, '$email', '<EMAIL>', 'g'),
           |      '$phone', '<PHONE>', 'g')) AS redacted_fp
           |FROM pii ORDER BY doc_id""".stripMargin
      }) { (s, d) =>
      val email = "[a-z0-9._]+@[a-z0-9.]+\\.[a-z]{2,}"
      val phone = "\\b555-[0-9]{4}\\b"
      val t = concat(col("text"), lit(" contact user"), col("doc_id"),
        lit("@example"),
        when(col("doc_id") % 3 === 0, ".com")
          .when(col("doc_id") % 3 === 1, ".org").otherwise(".net"),
        when(col("doc_id") % 2 === 0,
          concat(lit(" or call 555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")))
      Tables.documents(s, d)
        .select(col("doc_id"), t.as("t"))
        .select(col("doc_id"),
          size(regexp_extract_all(col("t"), lit(email), lit(0))).as("n_emails"),
          size(regexp_extract_all(col("t"), lit(phone), lit(0))).as("n_phones"),
          md5(regexp_replace(regexp_replace(col("t"), lit(email), lit("<EMAIL>")),
            lit(phone), lit("<PHONE>")).cast("binary")).as("redacted_fp"))
        .orderBy(col("doc_id"))
    },

    // Unicode NFC normalization + invisible-char/whitespace cleanup —
    // the canonical first pass of a crawl pipeline (decomposed accents
    // and editor artifacts must collapse to one byte form BEFORE any
    // hashing/dedup sees the text, or equal text hashes unequal). The
    // corpus is ASCII, so both engines derive the same messy view by
    // appending a deterministic suffix of decomposed sequences (t47's
    // injection discipline): combining acute over 'cafe', a
    // double-combining cluster (e + ogonek + acute composes PARTIALLY
    // to U+0119 + U+0301 — no precomposed form exists), zero-width
    // space, BOM-as-ZWNBSP, and a doubled space. The Spark side is the
    // native codegen NfcNormalizeExpr; the DuckDB side is the built-in
    // nfc_normalize it twins — both implement Unicode canonical
    // composition, no ported bit math between them. Zero-width strip
    // and whitespace collapse are plain regexp_replace on both sides
    // (NFC deliberately does NOT touch them).
    sql(
      "t48_normalize_text", {
        val zwClass = "'[' || chr(8203) || chr(8204) || chr(8205) || chr(65279) || ']'"
        s"""WITH m AS (
           |  SELECT doc_id,
           |    substr(text, 1, 40) || ' cafe' || chr(769) || ' e' || chr(808) || chr(769) ||
           |      chr(8203) || ' x' || chr(65279) || 'y  tail ' AS messy
           |  FROM documents),
           |n AS (
           |  SELECT doc_id, messy,
           |    trim(regexp_replace(regexp_replace(nfc_normalize(messy),
           |      $zwClass, '', 'g'), '[ \\t\\n\\r]+', ' ', 'g')) AS norm_text
           |  FROM m)
           |SELECT doc_id, CAST(length(messy) AS BIGINT) AS n_before,
           |  CAST(length(norm_text) AS BIGINT) AS n_after, norm_text
           |FROM n ORDER BY doc_id""".stripMargin
      }) { (s, d) =>
      val messy = concat(substring(col("text"), 1, 40),
        lit(" cafe\u0301 e\u0328\u0301\u200B x\uFEFFy  tail "))
      val norm = trim(regexp_replace(
        regexp_replace(graft.expressions.TextNorm.nfcNormalize(col("messy")),
          lit("[\u200B\u200C\u200D\uFEFF]"), lit("")),
        lit("[ \\t\\n\\r]+"), lit(" ")))
      Tables.documents(s, d)
        .select(col("doc_id"), messy.as("messy"))
        .select(col("doc_id"), col("messy"), norm.as("norm_text"))
        .select(col("doc_id"),
          length(col("messy")).cast("long").as("n_before"),
          length(col("norm_text")).cast("long").as("n_after"),
          col("norm_text"))
        .orderBy(col("doc_id"))
    },

    // Cross-document exact substring spans — the span-level dedup rung
    // (verbatim boilerplate/licence runs shared across documents,
    // the unit span-dedup pipelines cut). One fused kernel pass emits
    // position-ordered 64-bit 8-gram hashes; cross-doc detection is a
    // partial+final min≠max agg on the hash; spans are the per-doc
    // interval merge of the hit windows (operators/SpanDedup). Oracle:
    // the kernel's exact hash math replayed through the HUGEINT CTE
    // chain (minHashSigCtes' shingle fold generalized to k=8), so the
    // span sets hash-compare bit-exact — a collision would diverge
    // both engines identically.
    sql(
      "t49_duplicate_spans",
      HashOracleSql.duplicateSpans(k = 8)) { (s, d) =>
      graft.operators.SpanDedup.duplicateSpans(
          Tables.documents(s, d), col("text"), col("doc_id"), k = 8)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"), col("span_start"))
    },

    // The cut on top of t49's detection — keep the globally FIRST
    // occurrence of every cross-document 8-gram, remove all others, and
    // re-emit the cleaned text (normalized-token space) as a PATCH
    // table of only the affected documents (the tombstone/overlay
    // contract of t36/v22/t44: at 100 TB the corpus is never
    // rewritten; the patch is proportional to the duplication). The
    // gram pass and canonical selection are the t49 window plan over
    // hashes; the cut itself is a per-row codegen higher-order filter
    // after broadcasting the dimension-sized per-doc interval lists —
    // document text never shuffles. Oracle replays canonical selection
    // (first_value windows), the run merge, and token-level
    // reconstruction from the same normalized-token CTEs.
    sql(
      "t50_cut_spans",
      HashOracleSql.cutSpans(k = 8)) { (s, d) =>
      graft.operators.SpanDedup.cutDuplicateSpans(
          Tables.documents(s, d), col("text"), col("doc_id"), k = 8)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },

    // t49 made INCREMENTAL — span detection for an arriving increment
    // (doc_id % 5 = 0, the t25 old/new split) against the persisted
    // gram index of the existing corpus: a new doc's gram qualifies
    // iff it exists in the stored index or ≥2 distinct new docs carry
    // it, which is exactly t49's full-corpus gram groups restricted to
    // the new docs. The old corpus's TEXT is never re-scanned — the
    // index side shuffles bare (gh) rows; the increment's kernel pass
    // runs once. Oracle: full-recompute equality — t49's whole-corpus
    // SQL with emission filtered to the increment (the t40 claim
    // form), the strongest oracle an incremental operator gets.
    sql(
      "t51_incremental_spans",
      HashOracleSql.duplicateSpans(k = 8, emitPred = Some("doc_id % 5 = 0"))) { (s, d) =>
      graft.operators.SpanDedup.spansAgainstIndex(
          Tables.documents(s, d).filter(col("doc_id") % 5 === 0),
          col("text"), col("doc_id"), spanGramIndex(s, d), k = 8)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"), col("span_start"))
    },

    // t50 made INCREMENTAL — span CUTTING for the arriving increment
    // against the same stored gram index, stored-corpus-wins: the
    // published corpus never changes, so every increment occurrence of
    // an indexed gram is cut outright; grams the index has never seen
    // fall back to t50's keep-the-first rule WITHIN the increment.
    // Only the increment runs the gram kernel and the patch overlay.
    // Oracle: t50's full-corpus SQL with old-docs-first canonical
    // ordering and emission restricted to the increment — the
    // full-recompute-equality claim for the cut side.
    sql(
      "t52_incremental_cut",
      HashOracleSql.cutSpans(k = 8,
        canonicalPriority = Some("(doc_id % 5 = 0)"),
        emitPred = Some("doc_id % 5 = 0"))) { (s, d) =>
      graft.operators.SpanDedup.cutSpansAgainstIndex(
          Tables.documents(s, d).filter(col("doc_id") % 5 === 0),
          col("text"), col("doc_id"), spanGramIndex(s, d), k = 8)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },

    // TRAINED quality classifier (the fasttext-style filter stage): 30
    // full-batch gradient rounds learn to weight the engine's own cheap
    // text features (t06's quality components + the t18 repetition
    // signal) against a metadata-derived weak label (n_chars > 300 —
    // the stand-in for provenance labels like wiki-vs-crawl), then one
    // codegen pass scores every document from TEXT alone (~98% accuracy
    // at sf0.01). Per round exactly 5 integer gradient sums + a count
    // reach the driver. The softsign link and integer-quantized
    // gradient sums make training BIT-PORTABLE, so the oracle replays
    // the whole fit in static DuckDB CTEs — no dump-time state
    // inlining, the strongest trained-model oracle in the engine.
    sql(
      "t53_quality_classifier",
      graft.operators.TextClassifier.oracleSql("text", "n_chars > 300", "doc_id")) { (s, d) =>
      import graft.operators.TextClassifier
      TextClassifier.score(Tables.documents(s, d), col("text"), col("doc_id"),
          classifierLabel, classifierWeights(s, d))
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },

    // The classifier's EVALUATION stage: precision/recall/F1 at every
    // occupied score threshold (1/50 grid) — how a pipeline picks the
    // filter cutoff. One partial+final aggregate bins the scored
    // corpus; the cumulative TP/FP window runs over ≤51 bin rows, never
    // the corpus. Training is shared with t53 (one fit per data dir);
    // the oracle nests t53's full train-then-score SQL as a
    // materialized leg (v20/v27 precedent) and replays the same bins.
    sql(
      "t54_classifier_pr",
      graft.operators.TextClassifier.prCurveOracleSql(
        graft.operators.TextClassifier.oracleSql("text", "n_chars > 300", "doc_id"))) { (s, d) =>
      import graft.operators.TextClassifier
      TextClassifier.prCurve(
          TextClassifier.score(Tables.documents(s, d), col("text"), col("doc_id"),
            classifierLabel, classifierWeights(s, d)))
        .orderBy(col("thr"))
    },

    // t29's production twin over the same prebuilt components table:
    // the split assignment is md5-bucket arithmetic on the cluster id —
    // with the clustering amortized, a leakage-safe split costs one
    // id-keyed join. Same oracle as t29.
    sql("t32_leakage_split_prebuilt", leakageSplitOracle) { (s, d) =>
      Dedup.leakageSafeSplitOnComponents(
          Tables.documents(s, d), col("doc_id"), prebuiltComponents(s, d))
        .select(col("id").as("doc_id"), col("cluster"), col("split"))
        .orderBy(col("doc_id"))
    },

    // REAL BPE tokenization against the compiled merges table — the
    // token count t13's regex estimate stands in for, and the unit the
    // packing budgets (t22), mixture weights (t24), and surprisal
    // (t26) are denominated in. The kernel (expressions/Bpe) runs the
    // standard rank-order merge loop per word in ONE fused pass;
    // the oracle replays every merge as a generated list_reduce fold
    // stage FROM THE SAME Scala constant, so the two engines share one
    // merges table by construction. Output: token count + md5 of the
    // '|'-joined token sequence — a fingerprint mismatch pins any
    // divergence to the exact document.
    sql(
      "t39_bpe_tokens", {
        import graft.expressions.Bpe
        val ctes = Seq(
          s"tl AS (SELECT doc_id, string_split(${Sql.normalizeText("text")}, ' ') AS ws FROM documents)",
          "w AS (SELECT doc_id, unnest(ws) AS word, unnest(range(1, len(ws)+1)) AS widx FROM tl)",
          "e0 AS (SELECT doc_id, widx, array_to_string(list_transform(" +
            "range(1, length(word)+1), i -> substr(word, i, 1)), '|') AS enc " +
            "FROM w WHERE word <> '')") ++
          Bpe.oracleMergeStages :+
          ("agg AS (SELECT d.doc_id, coalesce(string_agg(e.enc, '|' ORDER BY e.widx), '') AS enc " +
            s"FROM documents d LEFT JOIN ${Bpe.lastStage} e USING (doc_id) GROUP BY d.doc_id)")
        "WITH " + ctes.mkString(",\n") +
          """
            |SELECT doc_id,
            |  CAST(CASE WHEN enc = '' THEN 0 ELSE len(string_split(enc, '|')) END AS INT) AS n_bpe,
            |  md5(enc) AS bpe_fp
            |FROM agg ORDER BY doc_id""".stripMargin
      }) { (s, d) =>
      // explode(array(...)) barrier (t17): n_bpe and bpe_fp both
      // derive from ONE kernel evaluation
      Tables.documents(s, d)
        .select(col("doc_id"),
          explode(array(graft.expressions.Bpe.encode(col("text")))).as("enc"))
        .select(col("doc_id"),
          when(col("enc") === "", 0)
            .otherwise(size(split(col("enc"), "\\|"))).cast("int").as("n_bpe"),
          md5(col("enc").cast("binary")).as("bpe_fp"))
        .orderBy(col("doc_id"))
    },

    // Incremental cluster maintenance — the last rung of the
    // incremental-everything ladder (t25 finds a crawl increment's
    // pairs against the stored signature index; this folds them into
    // the STORED components table without re-clustering the corpus).
    // The new batch (doc_id % 5 = 0) contributes its new–old pairs
    // (t25's incrementalNearDups) and its new–new verified pairs; the
    // old corpus contributes only its materialized (id, rep) table —
    // scanned twice as the streamed side of broadcast joins, never
    // shuffled, and the star contraction runs only on the contracted
    // batch-sized graph (Dedup.mergeComponents). Oracle: full-recompute
    // equality — the recursive-CTE transitive closure over the exact
    // old–old/new–new pair sets plus the bit-exact t25 banding replay
    // for new–old, min reachable id per node.
    sql(
      "t40_incremental_clusters",
      HashOracleSql.incrementalComponents(n = 3, k = 16, rowsPerBand = 4,
        threshold = 0.5, exactThreshold = 0.5, newPred = "doc_id % 5 = 0")) { (s, d) =>
      val newDocs = Tables.documents(s, d).filter(col("doc_id") % 5 === 0)
      val incr = Dedup.incrementalNearDups(newDocs, col("text"), col("doc_id"),
          dedupIndex(s, d))
        .select(col("new_id").as("id_a"), col("dup_of").as("id_b"))
      val nn = Dedup.minHashPairsVerified(newDocs, col("text"), col("doc_id"),
          threshold = 0.5)
        .select(col("id_a"), col("id_b"))
      Dedup.mergeComponents(prebuiltOldComponents(s, d), incr.unionByName(nn))
        .select(col("id").as("doc_id"), col("rep").as("rep_id"))
        .orderBy(col("doc_id"))
    },

    // DELETE-aware cluster maintenance — the inverse rung t40 left
    // open: a takedown batch (doc_id % 7 = 3) is removed from the
    // stored components table. Deletion can SPLIT a component (the
    // deleted doc may be its only bridge), so the touched components
    // are re-clustered from the persisted verified-pair log's
    // surviving edges — and ONLY they: the stored table and the pair
    // log each stream through broadcast joins (never shuffled), the
    // star contraction runs on the takedown-sized induced subgraph.
    // Oracle: full-recompute equality — t21's recursive-CTE closure
    // over the exhaustive exact-Jaccard pairs among SURVIVORS (the
    // t09 banding==exhaustive argument restricts to any doc subset).
    sql("t41_cluster_deletes", clusterDeletesOracle) { (s, d) =>
      val deleted = Tables.documents(s, d).filter(col("doc_id") % 7 === 3)
        .select(col("doc_id").as("id"))
      Dedup.removeFromComponents(prebuiltComponents(s, d), deleted,
          prebuiltPairs(s, d))
        .select(col("id").as("doc_id"), col("rep").as("rep_id"))
        .orderBy(col("doc_id"))
    },

    // Distributed BPE tokenizer TRAINING — learning the merges table
    // from the corpus (t39 encodes against a compile-time toy table;
    // real pipelines run this loop). One corpus scan builds the
    // word-type frequency table; each round is a bounded pair-count
    // agg + argmax (deterministic tie-break) + distributed re-encode,
    // v19's k-means-rounds shape. Oracle: a fully INDEPENDENT DuckDB
    // replay — it computes its own pair counts and argmax per round,
    // so the hash match verifies the learning loop itself, with no
    // inlined state.
    sql("t42_bpe_train", HashOracleSql.bpeTrain(BpeTrainRounds)) { (s, d) =>
      val learned = graft.operators.BpeTrain.train(
        Tables.documents(s, d), col("text"), BpeTrainRounds)
      s.createDataFrame(learned)
        .select(col("rank").as("merge_rank"), col("x"), col("y"), col("cnt"))
        .orderBy(col("merge_rank"))
    },

    // Delete-aware incremental dedup — the signature-store rung of the
    // delete ladder (t36 tombstones the inverted index, v22/v23 the
    // ANN buckets, t41 the cluster table): the crawl increment (t25's
    // doc_id % 5 batch) matches against the stored MinHash index MINUS
    // the takedown set (doc_id % 7 = 3), so a deleted doc can never
    // resurface as a dup_of verdict. The corpus-sized index streams
    // through ONE broadcast anti join (no shuffle, parameter stamp
    // preserved) — serving-time tombstoning, not a rebuild. Oracle:
    // the t25 banding replay with the old side restricted to
    // survivors.
    sql(
      "t44_incremental_dedup_deletes",
      HashOracleSql.incrementalNearDups(n = 3, k = 16, rowsPerBand = 4,
        threshold = 0.5, newPred = "doc_id % 5 = 0",
        oldPred = "doc_id % 7 <> 3")) { (s, d) =>
      val newDocs = Tables.documents(s, d).filter(col("doc_id") % 5 === 0)
      val deleted = Tables.documents(s, d).filter(col("doc_id") % 7 === 3)
        .select(col("doc_id").as("id"))
      Dedup.incrementalNearDups(newDocs, col("text"), col("doc_id"),
          Dedup.indexWithoutDeleted(dedupIndex(s, d), deleted))
        .orderBy(col("new_id"), col("dup_of"))
    },

    // Serve half of t42: every document re-encoded under the LEARNED
    // table (cached per data dir — train once, serve many) through the
    // same fused kernel as t39, with the learned merges riding into
    // codegen as a plan reference object. Oracle: the t42 training
    // replay feeding t39's encode-stage shape — one static SQL
    // verifies learn-then-serve end to end.
    sql("t43_bpe_learned_tokens",
        HashOracleSql.bpeLearnedTokens(BpeTrainRounds)) { (s, d) =>
      import graft.expressions.Bpe
      val merges = trainedBpe(s, d).map(m => (m.x, m.y))
      Tables.documents(s, d)
        .select(col("doc_id"),
          explode(array(Bpe.encodeWith(col("text"), merges))).as("enc"))
        .select(col("doc_id"),
          when(col("enc") === "", 0)
            .otherwise(size(split(col("enc"), "\\|"))).cast("int").as("n_bpe"),
          md5(col("enc").cast("binary")).as("bpe_fp"))
        .orderBy(col("doc_id"))
    },

    // BYTE-level BPE with special tokens — the production tokenizer
    // shape closing t42/t43's gap: merges over UTF-8 BYTES (2-hex-char
    // base alphabet), so NO input is ever OOV — emoji, CJK, control
    // bytes all encode and decode losslessly (ByteBpeSpec proves the
    // round-trip on an adversarial corpus); a validated RESERVED table
    // ([BOS]/[EOS]/[PAD]/[UNK], provably unforgeable by merges —
    // they're non-hex-shaped) brackets every document. Trained by the
    // same one-argmax-row-per-round distributed loop as t42, served
    // through one codegen kernel; the oracle independently replays the
    // ENTIRE byte-level fit and the serve, t42/t43's pattern.
    sql("t61_byte_bpe",
        HashOracleSql.byteBpeTokens(ByteBpeRounds)) { (s, d) =>
      import graft.expressions.ByteBpe
      val merges = trainedByteBpe(s, d).map(m => (m.x, m.y))
      Tables.documents(s, d)
        .select(col("doc_id"),
          explode(array(ByteBpe.encodeWith(col("text"), merges))).as("enc"))
        .select(col("doc_id"),
          size(split(col("enc"), "\\|")).cast("int").as("n_tokens"),
          md5(col("enc").cast("binary")).as("bpe_fp"))
        .orderBy(col("doc_id"))
    },

    // t46's fertility eval RE-MEASURED under the byte table: tokens
    // per word and single-BYTE-fragment fraction per language — the
    // quality check a tokenizer swap must re-run (byte tables trade
    // OOV-freedom for higher fertility on non-Latin scripts; this is
    // the query that quantifies the trade). Same one-kernel-pass,
    // dimension-sized-aggregate shape as t46.
    sql("t63_byte_fertility",
        HashOracleSql.byteFertility(ByteBpeRounds)) { (s, d) =>
      import graft.expressions.ByteBpe
      val merges = trainedByteBpe(s, d).map(m => (m.x, m.y))
      Tables.documents(s, d)
        .select(col("lang"),
          size(filter(split(col("text"), " "), w => w =!= lit(""))).as("n_words"),
          explode(array(ByteBpe.encodeWith(col("text"), merges))).as("enc"))
        // strip the bracket pair: fertility counts CONTENT tokens per
        // word (specials are per-doc overhead, not per-word cost)
        .select(col("lang"), col("n_words"),
          expr("filter(split(enc, '\\\\|'), t -> t NOT IN ('[BOS]', '[EOS]'))").as("toks"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          round(sum(size(col("toks"))).cast("double") / sum(col("n_words")) + 1e-9, 4)
            .as("fertility"),
          round(sum(size(filter(col("toks"), t => length(t) === 2))).cast("double") /
            sum(size(col("toks"))) + 1e-9, 4).as("single_frac"))
        .orderBy(col("lang"))
    },

    // Heavy hitters via count-min sketch, gated against exact counts
    // (q29/q39's sketch-trust pattern, now for an UNBOUNDED key
    // domain): at 100 TB the token vocabulary is billions of keys, so
    // the exact global count — a full shuffle of every occurrence — is
    // off the table; the CMS build is a treeAggregate into one
    // ~1 MB counter array and the probe (CmsEstimate, a plan-constant
    // codegen pass) answers any candidate set without a join. The
    // hashed output carries the exact top-20 (feasible at test scale)
    // plus the guarantee flag: est ∈ [cnt, cnt + 2·eps·N] — eps·N is
    // the proven bound at confidence 0.999, doubled so a flag failure
    // means a broken sketch, never an unlucky row. The oracle asserts
    // TRUE.
    sql("t33_heavy_hitters", heavyHittersOracle) { (s, d) =>
      val cms = graft.operators.HeavyHitters.sketch(
        docTerms(Tables.documents(s, d)), "term", eps = HhEps)
      heavyHitterReport(s, d, cms)
    },

    // Inverted-index keyword retrieval: a 3-term AND query served from
    // the prebuilt term→postings index (InvertedIndex) — the corpus is
    // NOT scanned at query time; only the query terms' hash-bucket
    // partitions are even listed (PartitionFilters, plan-gated), the
    // AND is a plain count over distinct postings, and only matched
    // doc ids leave the index before the broadcast metadata join.
    // 'dup' is deliberately rare in the synthetic corpus, so the
    // conjunction is selective. Oracle: the logical AND query over the
    // same normalize+split tokenizer (t33's SQL twin).
    sql("t34_inverted_index", indexAndOracle) { (s, d) =>
      indexServe(s, d, invertedIndexDir(s, d))
    },

    // Incremental index growth: the index is CREATED from the low-md5
    // half of the corpus and GROWN by appending the high half's
    // postings under the STORED bucket modulus (_meta.json — a guessed
    // modulus would scatter terms across wrong directories and
    // silently lose them from lookups). Serving the two-phase index
    // must be indistinguishable from t34's one-shot build: the oracle
    // is t34's verbatim.
    sql("t35_index_increment", indexAndOracle) { (s, d) =>
      indexServe(s, d, incrementalIndexDir(s, d))
    },

    // Index deletes (takedowns / dedup removals): doc-level tombstones
    // under the index — O(1) rows per deleted doc, no per-term
    // rewrite — applied as a broadcast anti join AFTER the
    // intersection, so the serve cost is hit-set-sized. Serving the
    // tombstoned index must equal querying a corpus that never had
    // those docs (the oracle excludes doc_id % 7 = 0 declaratively);
    // InvertedIndexSpec proves tombstoned == compacted == rebuilt.
    sql(
      "t36_index_delete",
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split(${Sql.normalizeText("text")}, ' ')) AS term
         |  FROM documents WHERE doc_id % 7 <> 0),
         |hit AS (
         |  SELECT doc_id FROM toks WHERE term IN ('spark', 'merge', 'dup')
         |  GROUP BY doc_id HAVING count(DISTINCT term) = 3)
         |SELECT h.doc_id, d.lang, d.source
         |FROM hit h JOIN documents d USING (doc_id) ORDER BY h.doc_id""".stripMargin) { (s, d) =>
      indexServe(s, d, deletedIndexDir(s, d))
    },

    // BM25-ranked retrieval (Lucene's formulation) over the served
    // inverted index: OR-semantics scoring of a 3-term query, top-10
    // by the 4-dp-rounded score (rounded BEFORE ranking so the
    // k-boundary is engine-reproducible; ties on doc_id). Everything
    // rides the bucket-pruned postings scan — df is a tiny aggregate
    // over the probed buckets (a term's postings live in ONE bucket),
    // dlen is denormalized on the posting row (no doc-length join),
    // N/avgdl are plan constants from _meta.json. The oracle re-derives
    // tf/dlen/df/N/avgdl from the raw corpus and scores with the same
    // formula — the index must be a lossless rearrangement.
    // Phrase search in ONE text pass: adjacent-token ("merge batch")
    // matches found by pairing each token with its successor via a
    // lead() window over (doc, position) — no positional index, no
    // token self-join (a position self-join would tokenize the corpus
    // twice and shuffle both term lists; the window shuffles each
    // doc's tokens once, partitioned by doc_id so partitions stay
    // document-sized at any corpus scale). Positions come from
    // posexplode and are engine-internal — only adjacency matters, and
    // the oracle replays the same lead() over DuckDB's subscripts.
    sql(
      "t38_phrase_search",
      s"""WITH n AS (SELECT doc_id, ${Sql.normalizeText("text")} AS t FROM documents),
         |toks AS (
         |  SELECT doc_id, unnest(string_split(t, ' ')) AS term,
         |         generate_subscripts(string_split(t, ' '), 1) AS pos
         |  FROM n),
         |w AS (SELECT doc_id, term,
         |        lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
         |      FROM toks)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
         |FROM w WHERE term = 'merge' AND nxt = 'batch'
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("pos"))
      Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(TextFunctions.tokens(col("text"))).as(Seq("pos", "term")))
        .withColumn("nxt", lead(col("term"), 1).over(w))
        .filter(col("term") === "merge" && col("nxt") === "batch")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_hits"))
        .orderBy(col("doc_id"))
    },

    sql("t37_bm25_search", bm25Sql(10)) { (s, d) =>
      graft.operators.InvertedIndex.bm25TopK(
        s, invertedIndexDir(s, d), Seq("spark", "merge", "dup"), k = 10)
    }
  )

  /** t34-family serve: the 3-term AND lookup joined to the matched
    * docs' metadata — ONE definition so the build / increment / delete
    * variants cannot drift in rendering. */
  private def indexServe(s: org.apache.spark.sql.SparkSession, d: String,
      indexDir: String): org.apache.spark.sql.DataFrame =
    graft.operators.InvertedIndex.lookupAll(s, indexDir, Seq("spark", "merge", "dup"))
      .join(Tables.documents(s, d).select(col("doc_id"), col("lang"), col("source")), "doc_id")
      .orderBy(col("doc_id"))

  /** t37/v27's BM25 oracle: tf/dlen/df/N/avgdl re-derived from the raw
    * corpus, Lucene's formula, top-k on the pre-rounded score. */
  private[queries] def bm25Sql(k: Int): String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(${Sql.normalizeText("text")}, ' ')) AS term
       |  FROM documents),
       |tc AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
       |       FROM toks WHERE term <> '' GROUP BY doc_id, term),
       |dl AS (SELECT doc_id, sum(tf) AS dlen FROM tc GROUP BY doc_id),
       |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dlen) AS avgdl FROM dl),
       |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tc
       |       WHERE term IN ('spark', 'merge', 'dup') GROUP BY term),
       |sc AS (
       |  SELECT tc.doc_id,
       |    round(sum(ln(1 + (st.n_docs - df.df + 0.5) / (df.df + 0.5)) *
       |      (tc.tf * 2.2) / (tc.tf + 1.2 * (0.25 + 0.75 * dl.dlen / st.avgdl)))
       |      + 1e-9, 4) AS score
       |  FROM tc JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN st
       |  GROUP BY tc.doc_id)
       |SELECT doc_id, score FROM sc
       |ORDER BY score DESC, doc_id LIMIT $k""".stripMargin

  /** t34/t35/s15's shared oracle: the logical AND query over the same
    * normalize+split tokenizer (t33's SQL twin) — every index lifecycle
    * state must answer exactly this. */
  private[queries] lazy val indexAndOracle: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(${Sql.normalizeText("text")}, ' ')) AS term
       |  FROM documents),
       |hit AS (
       |  SELECT doc_id FROM toks WHERE term IN ('spark', 'merge', 'dup')
       |  GROUP BY doc_id HAVING count(DISTINCT term) = 3)
       |SELECT h.doc_id, d.lang, d.source
       |FROM hit h JOIN documents d USING (doc_id) ORDER BY h.doc_id""".stripMargin

  /** t34's served index, built ONCE per sf-dir: distinct (term, doc_id)
    * postings hash-bucketed into 8 partition directories. */
  private val invIndexCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[queries] def invertedIndexDir(s: org.apache.spark.sql.SparkSession, d: String): String =
    invIndexCache.computeIfAbsent(d, _ => {
      val dir = java.nio.file.Files.createTempDirectory(
        graft.streaming.StreamingRelational.scratchBase, "inv-index")
      sys.addShutdownHook(graft.streaming.StreamingRelational.deleteRecursively(dir))
      graft.operators.InvertedIndex.build(
        Tables.documents(s, d), col("doc_id"), col("text"),
        nBuckets = 8, dir = dir.toString)
      dir.toString
    })

  /** t35's two-phase index: created from the low-md5 half, grown by
    * the high half through the metadata-validated append path. */
  private val invIncIndexCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def incrementalIndexDir(s: org.apache.spark.sql.SparkSession, d: String): String =
    invIncIndexCache.computeIfAbsent(d, _ => {
      val dir = java.nio.file.Files.createTempDirectory(
        graft.streaming.StreamingRelational.scratchBase, "inv-index-inc")
      sys.addShutdownHook(graft.streaming.StreamingRelational.deleteRecursively(dir))
      val docs = Tables.documents(s, d)
      graft.operators.InvertedIndex.build(
        docs.filter(Tables.inLowMd5Half(col("doc_id"))), col("doc_id"), col("text"),
        nBuckets = 8, dir = dir.toString)
      graft.operators.InvertedIndex.append(
        docs.filter(!Tables.inLowMd5Half(col("doc_id"))), col("doc_id"), col("text"),
        dir.toString)
      dir.toString
    })

  /** t36's tombstoned index: a full build with every doc_id % 7 == 0
    * document deleted (its own directory — tombstones are state, and
    * t34's pristine index must stay pristine). */
  private val invDelIndexCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def deletedIndexDir(s: org.apache.spark.sql.SparkSession, d: String): String =
    invDelIndexCache.computeIfAbsent(d, _ => {
      val dir = java.nio.file.Files.createTempDirectory(
        graft.streaming.StreamingRelational.scratchBase, "inv-index-del")
      sys.addShutdownHook(graft.streaming.StreamingRelational.deleteRecursively(dir))
      val docs = Tables.documents(s, d)
      graft.operators.InvertedIndex.build(
        docs, col("doc_id"), col("text"), nBuckets = 8, dir = dir.toString)
      val doomed = docs.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
      graft.operators.InvertedIndex.delete(s, dir.toString, doomed)
      dir.toString
    })

  /** t33/s12's shared eps — the merged streaming sketch must be
    * parameter-identical to the batch one or mergeInPlace refuses. */
  private[queries] val HhEps = 1e-4

  /** Non-empty normalized tokens of a documents frame. */
  private[queries] def docTerms(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(explode(TextFunctions.tokens(col("text"))).as("term"))
      .filter(col("term") =!= "")

  /** t33/s12's shared finish: exact top-20 (feasible at test scale)
    * decorated with the sketch's in-band flag — est ∈
    * [cnt, cnt + 2·eps·N], the proven bound doubled so a flag failure
    * means a broken sketch, never an unlucky row. Total occurrences
    * join in as a broadcast 1-row aggregate (t15's n_docs idiom) so the
    * slack is data-derived, not a baked-in literal. */
  private[queries] def heavyHitterReport(s: org.apache.spark.sql.SparkSession,
      d: String, cms: org.apache.spark.util.sketch.CountMinSketch): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = docTerms(Tables.documents(s, d))
    val nDf = terms.agg(count(lit(1)).as("n_tokens"))
    val top = terms.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term")).limit(20) // TakeOrdered, no global window
    val ranked = top.withColumn("rk",
      row_number().over(Window.orderBy(col("cnt").desc, col("term"))))
    graft.operators.HeavyHitters.withEstimates(ranked, col("term"), cms)
      .crossJoin(broadcast(nDf))
      .select(
        col("rk").cast("int").as("rk"), col("term"), col("cnt"),
        (col("cms_est") >= col("cnt") &&
          col("cms_est") <= col("cnt") +
            ceil(lit(2 * HhEps) * col("n_tokens")).cast("long")).as("cms_in_band"))
      .orderBy(col("rk"))
  }

  /** t33/s12's shared oracle: exact top-20 with the in-band flags the
    * sketch (batch-built or stream-merged — CMS is LINEAR, so the two
    * are counter-identical) must satisfy. */
  private[queries] lazy val heavyHittersOracle: String =
    s"""WITH toks AS (
       |  SELECT unnest(string_split(${Sql.normalizeText("text")}, ' ')) AS term
       |  FROM documents),
       |counts AS (
       |  SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM toks WHERE term <> ''
       |  GROUP BY term),
       |ranked AS (
       |  SELECT term, cnt, row_number() OVER (ORDER BY cnt DESC, term) AS rk
       |  FROM counts)
       |SELECT CAST(rk AS INT) AS rk, term, cnt, TRUE AS cms_in_band
       |FROM ranked WHERE rk <= 20 ORDER BY rk""".stripMargin

  /** The recursive-CTE transitive closure over the exhaustive
    * exact-Jaccard pair set, ending in `comp(doc_id, rep)` — the shared
    * WITH-body of the t27/t29 oracles and their prebuilt twins
    * (t31/t32): ONE definition, so the end-to-end and amortized
    * surfaces can never drift apart. */
  /** Closure CTEs over a document-subset predicate — `comp(doc_id,
    * rep)` on the docs matching `pred` only (pairs between two
    * matching docs; the t41/t44 survivor-restriction argument). */
  private def closureCompCtesFor(pred: String): String =
    s"""sh AS (SELECT doc_id, ${Sql.shingleSet("text", 3)} AS s FROM documents
       |       WHERE $pred),
       |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |      WHERE ${Sql.listJaccard("a.s", "b.s")} >= 0.5),
       |e(src, dst) AS (SELECT id_a, id_b FROM p UNION ALL SELECT id_b, id_a FROM p),
       |reach(a, b) AS (
       |  SELECT DISTINCT src, src FROM e
       |  UNION
       |  SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src),
       |comp AS (SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS rep
       |         FROM reach GROUP BY a)""".stripMargin

  private lazy val closureCompCtes: String = closureCompCtesFor("TRUE")

  /** t27/t31's oracle family: closure (over `pred`-matching docs) +
    * the t06 quality twin + per-cluster argmax (quality DESC, lowest
    * id). t45 passes the survivor predicate. */
  private def canonicalDocsOracleFor(pred: String): String =
    s"""WITH RECURSIVE
       |${closureCompCtesFor(pred)},
       |q AS (SELECT doc_id, ${Sql.qualityScore("text")} AS quality FROM documents
       |      WHERE $pred),
       |best AS (SELECT rep, doc_id AS best_id FROM (
       |  SELECT c.rep, c.doc_id,
       |    row_number() OVER (PARTITION BY c.rep ORDER BY q.quality DESC, c.doc_id) AS rk
       |  FROM comp c JOIN q ON q.doc_id = c.doc_id) WHERE rk = 1)
       |SELECT q.doc_id, CAST(coalesce(c.rep, q.doc_id) AS BIGINT) AS cluster,
       |  q.quality,
       |  CAST(CASE WHEN c.rep IS NULL OR q.doc_id = b.best_id THEN 1 ELSE 0 END AS INT) AS keep
       |FROM q
       |LEFT JOIN comp c ON c.doc_id = q.doc_id
       |LEFT JOIN best b ON b.rep = c.rep
       |ORDER BY q.doc_id""".stripMargin

  private lazy val canonicalDocsOracle: String = canonicalDocsOracleFor("TRUE")

  /** t29/t32's oracle: closure + the deterministic md5-bucket split on
    * the cluster id. */
  private lazy val leakageSplitOracle: String =
    s"""WITH RECURSIVE
       |$closureCompCtes
       |SELECT d.doc_id, CAST(coalesce(c.rep, d.doc_id) AS BIGINT) AS cluster,
       |  CASE substr(md5(CAST(coalesce(c.rep, d.doc_id) AS VARCHAR)), 1, 1)
       |    WHEN '0' THEN 'val' WHEN '1' THEN 'test' ELSE 'train' END AS split
       |FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** t19/s19's shared oracle — the end-to-end training-mix pipeline
    * (dedup keepers over the full corpus, eval-shingle
    * decontamination, kernel gates, per-lang md5 quotas). ONE
    * definition so the batch pipeline and its streaming fold cannot
    * drift (the s04/s05 batch==streaming parity discipline). */
  private[queries] lazy val trainingMixOracle: String =
    s"""WITH sh AS (SELECT doc_id, ${Sql.shingleSet("text", 8)} AS s FROM documents),
       |ev AS (SELECT coalesce(list_distinct(flatten(list(s) FILTER (WHERE doc_id % 97 = 0))),
       |                       []::VARCHAR[]) AS es FROM sh),
       |clean AS (SELECT doc_id FROM sh CROSS JOIN ev
       |          WHERE doc_id % 97 <> 0 AND len(list_intersect(s, es)) = 0),
       |keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY ${Sql.fingerprint("text")}),
       |base AS (
       |  SELECT doc_id, ${Sql.langId("text")} AS lang_pred,
       |    ${Sql.qualityScore("text")} AS quality,
       |    ${Sql.tokenCount("text")} AS n_tokens,
       |    round(${Sql.dupTokenFrac("text")} + 1e-9, 4) AS dup_token_frac
       |  FROM documents WHERE doc_id % 97 <> 0)
       |SELECT b.doc_id, b.lang_pred, b.quality, b.n_tokens
       |FROM base b JOIN keep USING (doc_id) JOIN clean USING (doc_id)
       |WHERE b.quality >= 0.5 AND b.lang_pred <> 'und' AND b.dup_token_frac <= 0.9
       |  AND (CASE WHEN b.lang_pred = 'en'
       |            THEN substr(md5(CAST(b.doc_id AS VARCHAR)), 1, 1) = '0'
       |            ELSE substr(md5(CAST(b.doc_id AS VARCHAR)), 1, 1) < '8' END)
       |ORDER BY b.doc_id""".stripMargin

  /** Prebuilt near-dup components table per data dir — t21's
    * clustering (verified MinHash pairs → large-star/small-star CC)
    * computed ONCE, written to scratch parquet, and served to every
    * consumer (t31/t32): the production pattern where one corpus
    * clustering feeds canonical selection, splits, and cluster stats
    * without re-running the star-contraction loop per consumer. */
  private val componentsCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def prebuiltComponents(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val path = componentsCache.computeIfAbsent(d, _ => {
      val dir = java.nio.file.Files.createTempDirectory(
        graft.streaming.StreamingRelational.scratchBase, "neardup-components")
      sys.addShutdownHook(graft.streaming.StreamingRelational.deleteRecursively(dir))
      Dedup.connectedComponents(prebuiltPairs(s, d))
        .write.mode("overwrite").parquet(dir.toString)
      dir.toString
    })
    s.read.parquet(path)
  }

  /** Learned-merges cache per data dir (t43/t46 and any other
    * consumer of the trained tokenizer; t42 itself trains FRESH each
    * call — the training loop is the operator being exercised). The
    * table round-trips through a persisted parquet artifact
    * (BpeTrain.save/load), the shape a training run actually ships —
    * consumers serve the PERSISTED tokenizer, never a JVM-local one. */
  private val bpeCache =
    new java.util.concurrent.ConcurrentHashMap[String, Vector[graft.operators.BpeTrain.Merge]]()

  private[graft] def trainedBpe(s: org.apache.spark.sql.SparkSession,
      d: String): Vector[graft.operators.BpeTrain.Merge] =
    bpeCache.computeIfAbsent(d, _ => {
      import graft.operators.BpeTrain
      val learned = BpeTrain.train(Tables.documents(s, d), col("text"), BpeTrainRounds)
      val dir = java.nio.file.Files.createTempDirectory(
        graft.streaming.StreamingRelational.scratchBase, "bpe-merges")
      sys.addShutdownHook(graft.streaming.StreamingRelational.deleteRecursively(dir))
      BpeTrain.save(s, learned, dir.toString)
      BpeTrain.load(s, dir.toString)
    })

  /** Learned BYTE-level merges per data dir (t61/t63): trained once,
    * round-tripped through the persisted artifact like [[trainedBpe]]. */
  private val byteBpeCache =
    new java.util.concurrent.ConcurrentHashMap[String, Vector[graft.operators.BpeTrain.Merge]]()

  private[graft] def trainedByteBpe(s: org.apache.spark.sql.SparkSession,
      d: String): Vector[graft.operators.BpeTrain.Merge] =
    byteBpeCache.computeIfAbsent(d, _ => {
      import graft.operators.BpeTrain
      val learned = BpeTrain.trainBytes(Tables.documents(s, d), col("text"), ByteBpeRounds)
      val dir = java.nio.file.Files.createTempDirectory(
        graft.streaming.StreamingRelational.scratchBase, "byte-bpe-merges")
      sys.addShutdownHook(graft.streaming.StreamingRelational.deleteRecursively(dir))
      BpeTrain.save(s, learned, dir.toString)
      BpeTrain.load(s, dir.toString)
    })

  /** Prebuilt verified-pair LOG per data dir — the (id_a, id_b) edge
    * table that built [[prebuiltComponents]], persisted alongside it
    * exactly as a production pipeline would: the components table
    * answers "which cluster", the pair log is what delete-aware
    * maintenance (t41, [[graft.operators.Dedup.removeFromComponents]])
    * re-derives surviving connectivity from. Materializing it also
    * means the MinHash kernels run ONCE per data dir across every
    * components consumer. */
  private val pairsCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def prebuiltPairs(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val path = pairsCache.computeIfAbsent(d, _ => {
      val dir = java.nio.file.Files.createTempDirectory(
        graft.streaming.StreamingRelational.scratchBase, "neardup-pairs")
      sys.addShutdownHook(graft.streaming.StreamingRelational.deleteRecursively(dir))
      Dedup.minHashPairsVerified(
          Tables.documents(s, d), col("text"), col("doc_id"), threshold = 0.5)
        .select(col("id_a"), col("id_b"))
        .write.mode("overwrite").parquet(dir.toString)
      dir.toString
    })
    s.read.parquet(path)
  }

  /** Prebuilt components table of the "existing" corpus only
    * (doc_id % 5 ≠ 0, the same old/new split as [[dedupIndex]]) — the
    * STORED cluster state a crawl-ingestion pipeline maintains: built
    * once from the old corpus's verified pairs, then kept current by
    * [[graft.operators.Dedup.mergeComponents]] folding each
    * increment's pairs in (t40) instead of re-clustering. */
  private val oldComponentsCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def prebuiltOldComponents(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val path = oldComponentsCache.computeIfAbsent(d, _ => {
      val dir = java.nio.file.Files.createTempDirectory(
        graft.streaming.StreamingRelational.scratchBase, "neardup-components-old")
      sys.addShutdownHook(graft.streaming.StreamingRelational.deleteRecursively(dir))
      val pairs = Dedup.minHashPairsVerified(
        Tables.documents(s, d).filter(col("doc_id") % 5 =!= 0),
        col("text"), col("doc_id"), threshold = 0.5)
      Dedup.connectedComponents(pairs.select(col("id_a"), col("id_b")))
        .write.mode("overwrite").parquet(dir.toString)
      dir.toString
    })
    s.read.parquet(path)
  }

  /** Prebuilt gram index of the "existing" corpus (doc_id % 5 ≠ 0, the
    * t25 old/new split) — the stored table [[graft.operators.SpanDedup
    * .spansAgainstIndex]] serves span detection from without ever
    * re-scanning the old corpus's text. Written once per data dir
    * (dedupIndex's idiom); at scale it would be bucketed by gh. */
  private val spanIndexCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** t70's stored char-gram index (old corpus = doc_id % 5 != 0),
    * built once per data dir — the [[spanGramIndex]] discipline at
    * character granularity. */
  private val charSpanIndexCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[queries] def charSpanIndex(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val path = charSpanIndexCache.computeIfAbsent(d, _ => {
      val dir = java.nio.file.Files.createTempDirectory(
        graft.streaming.StreamingRelational.scratchBase, "char-span-index")
      sys.addShutdownHook(graft.streaming.StreamingRelational.deleteRecursively(dir))
      graft.operators.SpanDedup.charGramIndex(
          Tables.documents(s, d).filter(col("doc_id") % 5 =!= 0),
          col("text"), col("doc_id"), L = 40)
        .write.mode("overwrite").parquet(dir.toString)
      dir.toString
    })
    s.read.parquet(path)
  }

  private[queries] def spanGramIndex(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val path = spanIndexCache.computeIfAbsent(d, _ => {
      val dir = java.nio.file.Files.createTempDirectory(
        graft.streaming.StreamingRelational.scratchBase, "span-gram-index")
      sys.addShutdownHook(graft.streaming.StreamingRelational.deleteRecursively(dir))
      graft.operators.SpanDedup.gramIndex(
          Tables.documents(s, d).filter(col("doc_id") % 5 =!= 0),
          col("text"), col("doc_id"), k = 8)
        .write.mode("overwrite").parquet(dir.toString)
      dir.toString
    })
    s.read.parquet(path)
  }

  /** t59's synthetic crawl page: the document's text wrapped in a
    * deterministic HTML shell — style/script to drop, nav/header/
    * footer boilerplate to density-filter, and one adversarial arm per
    * doc_id%4 (comment, entity soup, CDATA, broken markup). ONE SQL
    * expression string evaluated by BOTH engines (only the id cast
    * differs by dialect), so the fixture cannot drift between them. */
  private def htmlPageSql(id: String, dupArticle: Boolean = false): String = {
    // t65's variant re-emits the article paragraph for every fifth doc
    // — the intra-page duplication its line-dedup stage must remove
    val dup = if (dupArticle)
      "CASE WHEN doc_id % 5 = 0 THEN '<p>' || text || '</p>' ELSE '' END || "
    else ""
    s"""'<html><head><title>Doc ' || $id || '</title>' ||
       |'<style>body { margin:0; color:#333 }</style>' ||
       |'<script type="text/javascript">var t = 1; track(t);</script>' ||
       |'</head><body><nav><ul><li>Home</li><li>Docs</li><li>About</li></ul></nav>' ||
       |'<header><h1>' || source || ' archive</h1></header>' ||
       |CASE WHEN doc_id % 4 = 0 THEN '<!-- editorial note: draft, do not publish yet -->' ELSE '' END ||
       |CASE WHEN doc_id % 4 = 1 THEN '<p>Rate &amp; review: 5 &lt; 10 &gt; 2, &quot;grade&quot;&nbsp;&#65;&#x42; overall</p>' ELSE '' END ||
       |CASE WHEN doc_id % 4 = 2 THEN '<div><![CDATA[cdata payload retained as plain text content]]></div>' ELSE '' END ||
       |CASE WHEN doc_id % 4 = 3 THEN '<p>broken <markup unclosed attr="x </p>' ELSE '' END ||
       |'<article><p>' || text || '</p></article>' ||
       |$dup'<footer>&copy; 2024 ' || source || '</footer></body></html>'""".stripMargin
  }

  /** t65/s24's shared oracle: t59's stage CTEs → the first-occurrence
    * line filter → the t19 gate twins, one static SQL. LAZY
    * (incJoinOracle's forward-reference note). */
  private[queries] lazy val crawlPipelineOracle: String =
    s"""WITH ${htmlExtractCtes(dupArticle = true)},
       |dd AS (SELECT doc_id, list_filter(ls, (x, i) -> list_position(ls, x) = i) AS kept
       |       FROM l WHERE len(ls) > 0),
       |cl AS (SELECT doc_id, CAST(len(kept) AS BIGINT) AS n_lines,
       |         array_to_string(kept, chr(10)) AS ct FROM dd)
       |SELECT doc_id, n_lines,
       |  ${Sql.langId("ct")} AS lang_pred,
       |  ${Sql.qualityScore("ct")} AS quality,
       |  ${Sql.tokenCount("ct")} AS n_tokens,
       |  ${Sql.fingerprint("ct")} AS fp
       |FROM cl
       |WHERE ${Sql.qualityScore("ct")} >= 0.5 AND ${Sql.langId("ct")} <> 'und'
       |ORDER BY doc_id""".stripMargin

  /** t65/s24's per-row verdict map — extract → line-dedup → gate
    * kernels (behind the Generate barrier), PRE-filter: the narrow
    * verdict table a crawl pipeline folds per batch. */
  private[queries] def crawlVerdicts(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val page = expr(htmlPageSql(id = "CAST(doc_id AS STRING)", dupArticle = true))
    docs
      // extraction behind its OWN Generate barrier: the empty-page
      // filter below would otherwise re-derive the kernel through
      // Project pushdown (t17's lesson) — two extractions per row
      .select(col("doc_id"),
        explode(array(graft.expressions.HtmlExtract.htmlExtract(page))).as("x"))
      .filter(length(col("x")) > 0)
      .withColumn("raw", split(col("x"), "\n", -1))
      .withColumn("kept", filter(col("raw"),
        (ln, i) => array_position(col("raw"), ln) === (i + 1).cast("long")))
      .withColumn("cleaned", array_join(col("kept"), "\n"))
      .select(col("doc_id"), size(col("kept")).cast("long").as("n_lines"),
        explode(array(struct(
          TextFunctions.langId(col("cleaned")).as("lang_pred"),
          TextFunctions.qualityScore(col("cleaned")).as("quality"),
          TextFunctions.tokenCount(col("cleaned")).as("n_tokens"),
          TextFunctions.fingerprint(col("cleaned")).as("fp")))).as("k"))
      .select(col("doc_id"), col("n_lines"), col("k.lang_pred"),
        col("k.quality"), col("k.n_tokens"), col("k.fp"))
  }

  /** t65/s24's shared gate over the verdict table. */
  private[queries] def crawlGate(v: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    v.filter(col("quality") >= 0.5 && col("lang_pred") =!= "und")

  /** t59/t65's shared oracle stages: the html fixture + every kernel
    * stage of [[graft.expressions.HtmlExtract]] as regexp/list CTEs,
    * ending in `l(doc_id, ls)` — the density-surviving line list.
    * The `e` stage's replace CHAIN is equivalent to the kernel's
    * single-pass entity decoder ON THIS FIXTURE only because neither
    * the page shell nor the synthetic doc text contains nested
    * escapes (`&amp;lt;`-style; documents.text has zero `&` at every
    * SF) — the kernel itself is single-pass (HtmlExtractSpec pins the
    * nested cases the chain would get wrong). */
  private def htmlExtractCtes(dupArticle: Boolean): String = {
    val page = htmlPageSql(id = "CAST(doc_id AS VARCHAR)", dupArticle = dupArticle)
    s"""h AS (SELECT doc_id, $page AS html FROM documents),
       |c1 AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(html,
       |    '(?is)<script\\b[^>]*>.*?</script>', '', 'g'),
       |    '(?is)<style\\b[^>]*>.*?</style>', '', 'g'),
       |    '(?s)<!--.*?-->', '', 'g') AS t FROM h),
       |c2 AS (SELECT doc_id, regexp_replace(t, '(?s)<!\\[CDATA\\[(.*?)\\]\\]>', '\\1', 'g') AS t FROM c1),
       |c3 AS (SELECT doc_id, regexp_replace(t,
       |    '(?i)</(p|div|li|ul|ol|h[1-6]|tr|table|nav|footer|header|section|article|blockquote|pre)>|<br */?>',
       |    chr(10), 'g') AS t FROM c2),
       |c4 AS (SELECT doc_id, regexp_replace(t, '<[^>]*>', '', 'g') AS t FROM c3),
       |e AS (SELECT doc_id,
       |    replace(replace(replace(replace(replace(replace(replace(replace(replace(t,
       |      '&#65;', 'A'), '&#x42;', 'B'),
       |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&apos;', ''''),
       |      '&nbsp;', ' '), '&copy;', '©'), '&amp;', '&') AS t FROM c4),
       |l AS (SELECT doc_id, list_filter(list_transform(string_split(t, chr(10)),
       |    x -> trim(regexp_replace(x, '[ \\t\\r\\f]+', ' ', 'g'))),
       |    x -> x <> '' AND len(string_split(x, ' ')) >= 5) AS ls FROM e)""".stripMargin
  }

  /** t55/t57's shared oracle: the bigram-LM surprisal SQL, with
    * optional emission restriction for the incremental claim (the LM
    * always sees the whole corpus; filtering `per` rows == filtering
    * output because the mean is per-doc). */
  private def bigramSurprisalSql(emitPred: Option[String]): String = {
    val emit = emitPred.map(p => s" WHERE $p").getOrElse("")
    s"""WITH tl AS (
       |  SELECT doc_id, list_filter(string_split(${Sql.normalizeText("text")}, ' '), x -> x <> '') AS t
       |  FROM documents),
       |bg0 AS (
       |  SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
       |    i -> t[i] || ' ' || t[i+1])) AS g
       |  FROM tl WHERE len(t) >= 2),
       |bg AS (SELECT doc_id, g, count(*) AS bf FROM bg0 GROUP BY doc_id, g),
       |bi AS (SELECT g, CAST(sum(bf) AS BIGINT) AS c FROM bg GROUP BY g),
       |ctx AS (SELECT split_part(g, ' ', 1) AS w1, CAST(sum(c) AS BIGINT) AS cw FROM bi GROUP BY 1),
       |uni AS (SELECT split_part(g, ' ', 2) AS w2, CAST(sum(c) AS BIGINT) AS u FROM bi GROUP BY 1),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM bi),
       |per AS (
       |  SELECT bg.doc_id, bg.bf,
       |    -ln((0.7 * (CAST(bi.c AS DOUBLE) / ctx.cw)) + (0.3 * (CAST(uni.u AS DOUBLE) / tot.t))) AS s
       |  FROM bg JOIN bi USING (g)
       |  JOIN ctx ON ctx.w1 = split_part(bg.g, ' ', 1)
       |  JOIN uni ON uni.w2 = split_part(bg.g, ' ', 2)
       |  CROSS JOIN tot)
       |SELECT doc_id, CAST(sum(bf) AS BIGINT) AS n_bigrams,
       |  round(sum(bf * s) / sum(bf) + 1e-9, 4) AS surprisal
       |FROM per$emit GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** One tokenize-kernel pass: the (doc_id, g, bf) bigram count table
    * of a corpus slice — g is the space-joined token pair (tokens are
    * alnum, so the join is unambiguous). Docs under 2 tokens vanish. */
  private def bigramCounts(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val toks = filter(TextFunctions.tokens(col("text")), t => t =!= lit(""))
    docs
      .select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(slice(toks, 1, size(toks) - 1), (t, i) -> concat(t, ' ', toks[i + 1]))")).as("g"))
      .groupBy(col("doc_id"), col("g"))
      .agg(count(lit(1)).as("bf"))
  }

  /** Scoring tail shared by t55/t57: derive context totals (row sums),
    * target unigrams (column sums) and the grand total from the ONE
    * (g, c) LM table, broadcast all three onto the per-doc side, and
    * emit the bf-weighted mean surprisal. */
  private def bigramScore(bg: org.apache.spark.sql.DataFrame,
      bi: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val ctx = bi.groupBy(substring_index(col("g"), " ", 1).as("w1"))
      .agg(sum(col("c")).as("cw"))
    val uni = bi.groupBy(substring_index(col("g"), " ", -1).as("w2"))
      .agg(sum(col("c")).as("u"))
    val tot = bi.agg(sum(col("c")).as("t"))
    bg
      .join(broadcast(bi), "g")
      .join(broadcast(ctx), substring_index(col("g"), " ", 1) === col("w1"))
      .join(broadcast(uni), substring_index(col("g"), " ", -1) === col("w2"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("bf"),
        (-log((lit(0.7) * (col("c").cast("double") / col("cw"))) +
          (lit(0.3) * (col("u").cast("double") / col("t"))))).as("s"))
      .groupBy(col("doc_id"))
      .agg(sum(col("bf")).cast("long").as("n_bigrams"),
        round(sum(col("bf") * col("s")) / sum(col("bf")) + 1e-9, 4).as("surprisal"))
      .orderBy(col("doc_id"))
  }

  /** Persisted (g, c) bigram-count LM of the "existing" corpus
    * (doc_id % 5 ≠ 0) — written once per data dir; t57 merges the
    * increment's counts into it without re-scanning the old text. */
  private val bigramLmCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def bigramLmIndex(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val path = bigramLmCache.computeIfAbsent(d, _ => {
      val dir = java.nio.file.Files.createTempDirectory(
        graft.streaming.StreamingRelational.scratchBase, "bigram-lm-index")
      sys.addShutdownHook(graft.streaming.StreamingRelational.deleteRecursively(dir))
      bigramCounts(Tables.documents(s, d).filter(col("doc_id") % 5 =!= 0))
        .groupBy(col("g")).agg(sum(col("bf")).as("c"))
        .write.mode("overwrite").parquet(dir.toString)
      dir.toString
    })
    s.read.parquet(path)
  }

  /** t53/t54's weak label: the metadata-derived quality proxy the
    * classifier learns to predict from text features alone. */
  private[queries] def classifierLabel = when(col("n_chars") > 300, 1.0).otherwise(0.0)

  /** One classifier fit per data dir, shared by t53 (scoring) and t54
    * (PR evaluation) — the share-the-training-run idiom used for the
    * GNG model. Training is deterministic (bit-portable integer
    * gradient sums), so WHICH query triggers it is immaterial. */
  private val classifierCache = new java.util.concurrent.ConcurrentHashMap[String, Array[Double]]()

  private[queries] def classifierWeights(s: org.apache.spark.sql.SparkSession, d: String): Array[Double] =
    classifierCache.computeIfAbsent(d, _ =>
      graft.operators.TextClassifier.fit(
        Tables.documents(s, d), col("text"), classifierLabel))

  /** One hashed-classifier fit per data dir (t62) — the
    * share-the-training-run idiom; training is deterministic
    * (bit-portable integer gradient sums), so WHICH query triggers it
    * is immaterial. */
  private val hashedCache = new java.util.concurrent.ConcurrentHashMap[String, Array[Double]]()

  private def hashedWeights(s: org.apache.spark.sql.SparkSession, d: String): Array[Double] =
    hashedCache.computeIfAbsent(d, _ =>
      graft.operators.HashedClassifier.fit(
        Tables.documents(s, d), col("text"), classifierLabel))

  /** t68/t78's shared oracle body: the full Kneser-Ney derivation up
    * to the per-doc (doc_id, lang, n_trigrams, surprisal) rows —
    * callers append their ORDER BY (t68) or wrap it as a subquery
    * under the ntile window (t78). LAZY: declared after `all`. */
  private lazy val knOracleSql: String =
    s"""WITH tl AS (
       |  SELECT doc_id, lang, list_filter(string_split(${Sql.normalizeText("text")}, ' '), x -> x <> '') AS t
       |  FROM documents),
       |tg0 AS (
       |  SELECT doc_id, lang, unnest(list_transform(generate_series(1, len(t) - 2),
       |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
       |  FROM tl WHERE len(t) >= 3),
       |tg AS (SELECT doc_id, lang, g, count(*) AS tf FROM tg0 GROUP BY doc_id, lang, g),
       |tri AS (SELECT lang, g, CAST(sum(tf) AS BIGINT) AS c FROM tg GROUP BY lang, g),
       |big AS (SELECT lang, split_part(g, ' ', 1) AS w1, split_part(g, ' ', 2) AS w2,
       |          CAST(sum(c) AS BIGINT) AS cw, CAST(count(*) AS BIGINT) AS nf
       |        FROM tri GROUP BY 1, 2, 3),
       |cont AS (SELECT lang, split_part(g, ' ', 2) AS w2, split_part(g, ' ', 3) AS w3,
       |           CAST(count(*) AS BIGINT) AS n1p
       |         FROM tri GROUP BY 1, 2, 3),
       |mid AS (SELECT lang, w2, CAST(sum(n1p) AS BIGINT) AS nmid,
       |          CAST(count(*) AS BIGINT) AS nf1
       |        FROM cont GROUP BY 1, 2),
       |cw3 AS (SELECT lang, w3, CAST(count(*) AS BIGINT) AS n1w3 FROM cont GROUP BY 1, 2),
       |nbg AS (SELECT lang, CAST(count(*) AS BIGINT) AS nb FROM cont GROUP BY lang),
       |per AS (
       |  SELECT tg.doc_id, tg.lang, tg.tf,
       |    -ln((greatest(CAST(tri.c AS DOUBLE) - 0.75, 0) / big.cw)
       |      + ((0.75 * big.nf / big.cw)
       |        * ((greatest(CAST(cont.n1p AS DOUBLE) - 0.75, 0) / mid.nmid)
       |          + ((0.75 * mid.nf1 / mid.nmid)
       |            * (CAST(cw3.n1w3 AS DOUBLE) / nbg.nb))))) AS s
       |  FROM tg
       |  JOIN tri ON tri.lang = tg.lang AND tri.g = tg.g
       |  JOIN big ON big.lang = tg.lang AND big.w1 = split_part(tg.g, ' ', 1)
       |          AND big.w2 = split_part(tg.g, ' ', 2)
       |  JOIN cont ON cont.lang = tg.lang AND cont.w2 = split_part(tg.g, ' ', 2)
       |           AND cont.w3 = split_part(tg.g, ' ', 3)
       |  JOIN mid ON mid.lang = tg.lang AND mid.w2 = split_part(tg.g, ' ', 2)
       |  JOIN cw3 ON cw3.lang = tg.lang AND cw3.w3 = split_part(tg.g, ' ', 3)
       |  JOIN nbg ON nbg.lang = tg.lang)
       |SELECT doc_id, lang, CAST(sum(tf) AS BIGINT) AS n_trigrams,
       |  round(sum(tf * s) / sum(tf) + 1e-9, 4) AS surprisal
       |FROM per GROUP BY doc_id, lang""".stripMargin

  /** t68's build chain (see the t68 registration comment), shared with
    * t78's bucketing stage: per-doc (doc_id, lang, n_trigrams,
    * surprisal) — unordered; callers sort or window on top. */
  private def knSurprisal(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val tg = knTrigrams(Tables.documents(s, d)).localCheckpoint()
    knScore(tg, knTriCounts(tg))
  }

  /** The per-doc trigram table everything KN derives from: (doc_id,
    * lang, g, tf, w1, w2, w3) — ONE tokenize pass over `docs`, and NO
    * shuffle: the per-doc counts are computed INSIDE the row (sort the
    * doc's trigram array, run-length the boundaries) instead of
    * exploding every trigram occurrence into a corpus-scale
    * groupBy(doc_id, lang, g) exchange. The group key contained doc_id,
    * so the aggregation was doc-local all along — hash-partitioning the
    * full occurrence table bought nothing the row can't do itself.
    * All built-ins (sort_array / filter / transform), so the kernel
    * stays inside whole-stage codegen; rows identical (distinct
    * trigrams per doc with occurrence counts, tf BIGINT). */
  private[queries] def knTrigrams(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val toks = filter(TextFunctions.tokens(col("text")), t => t =!= lit(""))
    docs
      .select(col("doc_id"), col("lang"), toks.as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), col("lang"), expr(
        "sort_array(transform(slice(toks, 1, size(toks) - 2), " +
          "(t, i) -> concat(t, ' ', toks[i + 1], ' ', toks[i + 2])))").as("gs"))
      // run starts: positions whose trigram differs from the previous
      .select(col("doc_id"), col("lang"), col("gs"), expr(
        "filter(sequence(0, size(gs) - 1), p -> p = 0 OR gs[p] != gs[p - 1])").as("st"))
      .select(col("doc_id"), col("lang"), explode(expr(
        "transform(st, (p, j) -> struct(gs[p] AS g, CAST(" +
          "if(j + 1 < size(st), st[j + 1], size(gs)) - p AS BIGINT) AS tf))")).as("x"))
      .select(col("doc_id"), col("lang"), col("x.g").as("g"), col("x.tf").as("tf"))
      .withColumn("w1", substring_index(col("g"), " ", 1))
      .withColumn("w2", substring_index(substring_index(col("g"), " ", 2), " ", -1))
      .withColumn("w3", substring_index(col("g"), " ", -1))
  }

  /** Corpus-level trigram counts (lang, g, c) — the ONLY persisted KN
    * state: pure sums, so increments merge by (lang, g) sum. */
  private[queries] def knTriCounts(tg: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    tg.groupBy(col("lang"), col("g")).agg(sum(col("tf")).as("c"))

  /** Score `tg`'s docs against the LM defined by the corpus trigram
    * table `tri` (lang, g, c). EVERY lower-order KN quantity — bigram
    * sums, continuation counts N1+, follower counts — is a groupBy
    * over tri's rows and KEY SET alone (distinct trigram types), never
    * over raw text: that is what makes [[knTriCounts]] sufficient
    * state for exact incremental maintenance (t79) — distinct counts
    * don't merge as sums, but they RE-DERIVE exactly from the merged
    * presence table. */
  private[queries] def knScore(tg: org.apache.spark.sql.DataFrame,
      tri: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val triW = tri.select(col("lang"), col("g"), col("c"),
      substring_index(col("g"), " ", 1).as("w1"),
      substring_index(substring_index(col("g"), " ", 2), " ", -1).as("w2"),
      substring_index(col("g"), " ", -1).as("w3"))
      .localCheckpoint()
    val big = triW.groupBy(col("lang"), col("w1"), col("w2"))
      .agg(sum(col("c")).as("cw"), count(lit(1)).as("nf"))
    // the continuation table feeds FOUR consumers (its own broadcast
    // leg, mid, cw3, nbg) — as a plain plan each one re-aggregates the
    // corpus-scale trigram-type table; materialized once, the three
    // lower-order stats aggregate its (already vocab²-bounded) rows
    // instead: 3 fewer trigram-table exchanges per scoring pass, for
    // every KN consumer (t68/t78/t79/s32/t80/s35)
    val cont = triW.select(col("lang"), col("w2"), col("w3"))
      .groupBy(col("lang"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("n1p"))
      .localCheckpoint()
    val mid = cont.groupBy(col("lang"), col("w2"))
      .agg(sum(col("n1p")).as("nmid"), count(lit(1)).as("nf1"))
    val cw3 = cont.groupBy(col("lang"), col("w3")).agg(count(lit(1)).as("n1w3"))
    val nbg = cont.groupBy(col("lang")).agg(count(lit(1)).as("nb"))
    tg
      .join(broadcast(triW.select(col("lang"), col("g"), col("c"))), Seq("lang", "g"))
      .join(broadcast(big), Seq("lang", "w1", "w2"))
      .join(broadcast(cont), Seq("lang", "w2", "w3"))
      .join(broadcast(mid), Seq("lang", "w2"))
      .join(broadcast(cw3), Seq("lang", "w3"))
      .join(broadcast(nbg), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("tf"),
        (-log((greatest(col("c").cast("double") - 0.75, lit(0.0)) / col("cw"))
          + ((lit(0.75) * col("nf") / col("cw"))
            * ((greatest(col("n1p").cast("double") - 0.75, lit(0.0)) / col("nmid"))
              + ((lit(0.75) * col("nf1") / col("nmid"))
                * (col("n1w3").cast("double") / col("nb"))))))).as("s"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("tf")).cast("long").as("n_trigrams"),
        round(sum(col("tf") * col("s")) / sum(col("tf")) + 1e-9, 4).as("surprisal"))
  }

  // ---- t80/s35: the per-source data card, shared between the batch
  // ---- registration and its streaming twin ----------------------------

  /** t80/s35's shared oracle (LAZY — the val-after-`all` NPE gotcha:
    * referenced while `all` initializes). */
  private[queries] lazy val dataCardOracle: String =
    s"""WITH f AS (SELECT doc_id, source, ${Sql.langId("text")} AS lang_det,
       |             ${Sql.tokenCount("text")} AS tok, ${Sql.qualityScore("text")} AS q,
       |             ${Sql.dupTokenFrac("text")} AS dupf, ${Sql.fingerprint("text")} AS fp
       |           FROM documents WHERE source IS NOT NULL),
       |a AS (SELECT source, count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS total_tokens,
       |        CAST(sum(CAST(round(q * 10000) AS BIGINT)) AS BIGINT) AS sq,
       |        sum(dupf) AS sdupf, count(DISTINCT fp) AS nuniq
       |      FROM f GROUP BY source),
       |ltop AS (SELECT source, lang_det AS top_lang, c FROM (
       |    SELECT source, lang_det, count(*) AS c,
       |      row_number() OVER (PARTITION BY source ORDER BY count(*) DESC, lang_det) AS rn
       |    FROM f GROUP BY source, lang_det) x WHERE rn = 1),
       |sh AS (SELECT doc_id, ${Sql.shingleSet("text", 4)} AS s
       |       FROM documents WHERE source IS NOT NULL),
       |ev AS (SELECT s AS es FROM sh WHERE doc_id % 97 = 0),
       |flag AS (SELECT DISTINCT c2.doc_id
       |         FROM (SELECT doc_id, s FROM sh WHERE doc_id % 97 <> 0) c2
       |         CROSS JOIN ev WHERE len(list_intersect(c2.s, ev.es)) > 0),
       |ctm AS (SELECT f.source, count(*) AS contam_docs
       |        FROM flag JOIN f USING (doc_id) GROUP BY 1),
       |ppl AS (SELECT f2.source, count(*) AS scored,
       |          sum(CASE WHEN b.bucket = 3 THEN 1 ELSE 0 END) AS tail
       |        FROM (SELECT doc_id,
       |                CAST(ntile(3) OVER (PARTITION BY lang ORDER BY surprisal, doc_id) AS INT) AS bucket
       |              FROM ($knOracleSql) kb) b
       |        JOIN f f2 USING (doc_id) GROUP BY 1)
       |SELECT a.source, a.n_docs, a.total_tokens, ltop.top_lang,
       |  floor(ltop.c * 10000.0 / a.n_docs + 0.5) / 10000.0 AS top_lang_pct,
       |  floor(a.sq / a.n_docs + 0.5) / 10000.0 AS mean_quality,
       |  floor(a.sdupf / a.n_docs * 10000 + 0.5) / 10000.0 AS mean_dup_token_frac,
       |  floor((a.n_docs - a.nuniq) * 10000.0 / a.n_docs + 0.5) / 10000.0 AS exact_dup_pct,
       |  COALESCE(ctm.contam_docs, 0) AS contam_docs,
       |  floor(ppl.tail * 10000.0 / ppl.scored + 0.5) / 10000.0 AS ppl_tail_pct
       |FROM a LEFT JOIN ltop USING (source) LEFT JOIN ctm USING (source)
       |       LEFT JOIN ppl USING (source)
       |ORDER BY a.source""".stripMargin

  /** The per-doc feature rows every data-card aggregation derives from
    * — ONE kernel pass over `docs`; narrow enough to be a streaming
    * fold state (text never leaves the batch that carried it). */
  private[queries] def dataCardFeat(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val rep = TextFunctions.repetitionStats(col("text"))
    docs.select(
      col("doc_id"), col("source"),
      TextFunctions.langId(col("text")).as("lang_det"),
      TextFunctions.tokenCount(col("text")).as("tok"),
      TextFunctions.qualityScore(col("text")).as("q"),
      element_at(rep, 1).as("dupf"),
      TextFunctions.fingerprint(col("text")).as("fp"))
  }

  /** Compose the data card from pre-computed kernel states: per-doc
    * features (source-non-null docs), contamination shingles for the
    * train and eval splits, and the per-doc trigram table (ALL docs —
    * the KN LM trains corpus-wide). Everything here is aggregation and
    * source-cardinality joins over narrow rows; no text, no kernels —
    * which is exactly what makes the same serve correct over a
    * streaming fold's accumulated state (s35). */
  private[queries] def dataCardServe(feat: org.apache.spark.sql.DataFrame,
      corpusSh: org.apache.spark.sql.DataFrame,
      evalSh: org.apache.spark.sql.DataFrame,
      tg: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val a = feat.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("tok")).as("total_tokens"),
      // q is already 4-dp: sum it exactly, in 1e-4 units — a double sum
      // depends on row order and flips the rounded mean on a boundary
      sum(round(col("q") * 10000).cast("long")).as("sq"),
      sum(col("dupf")).as("sdupf"),
      countDistinct(col("fp")).as("nuniq"))
    val ltop = feat.groupBy(col("source"), col("lang_det"))
      .agg(count(lit(1)).as("c"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("c").desc, col("lang_det"))))
      .filter(col("rn") === 1)
      .select(col("source"), col("lang_det").as("top_lang"), col("c"))
    val flagged = graft.operators.Dedup
      .contaminationReportFromShingles(corpusSh, evalSh)
      .filter(col("n_shared") > 0)
      .select(col("id").as("doc_id")).distinct()
    val ctm = flagged.join(feat.select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source")).agg(count(lit(1)).as("contam_docs"))
    val ppl = knScore(tg, knTriCounts(tg))
      .withColumn("bucket", ntile(3).over(
        Window.partitionBy(col("lang")).orderBy(col("surprisal"), col("doc_id"))))
      .join(feat.select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source")).agg(
        count(lit(1)).as("scored"),
        sum(when(col("bucket") === 3, 1L).otherwise(0L)).as("tail"))
    a.join(broadcast(ltop), Seq("source"), "left")
      .join(broadcast(ctm), Seq("source"), "left")
      .join(broadcast(ppl), Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("total_tokens"),
        col("top_lang"),
        (floor(col("c") * 10000.0 / col("n_docs") + 0.5) / 10000.0).as("top_lang_pct"),
        (floor(col("sq") / col("n_docs") + 0.5) / 10000.0).as("mean_quality"),
        (floor(col("sdupf") / col("n_docs") * 10000 + 0.5) / 10000.0).as("mean_dup_token_frac"),
        (floor((col("n_docs") - col("nuniq")) * 10000.0 / col("n_docs") + 0.5) / 10000.0)
          .as("exact_dup_pct"),
        coalesce(col("contam_docs"), lit(0L)).as("contam_docs"),
        (floor(col("tail") * 10000.0 / col("scored") + 0.5) / 10000.0).as("ppl_tail_pct"))
      .orderBy(col("source"))
  }

  /** t77/s29's shared oracle: exact containment over every qualifying
    * pair (small→big, integer threshold) — the blocking is lossless,
    * so no replay of it is needed; `pairPred` restricts which pairs
    * the variant emits (s29: exactly one new side). */
  private[queries] def containmentOracle(pairPred: String): String = {
    val shSet = TextFunctions.Sql.shingleSet("text", 3)
    s"""WITH cds AS MATERIALIZED (SELECT doc_id AS id, $shSet AS s FROM documents),
       |cdn AS MATERIALIZED (SELECT id, s, len(s) AS ns FROM cds WHERE len(s) > 0)
       |SELECT a.id AS small_id, b.id AS big_id,
       |  round(len(list_intersect(a.s, b.s)) * 1.0 / a.ns + 1e-9, 4) AS containment
       |FROM cdn a JOIN cdn b
       |  ON a.id <> b.id AND (a.ns < b.ns OR (a.ns = b.ns AND a.id < b.id))
       |  AND ($pairPred)
       |WHERE len(list_intersect(a.s, b.s)) * 10 >= a.ns * 7
       |ORDER BY small_id, big_id""".stripMargin
  }

  /** Prebuilt containment feature index of the "existing" corpus
    * (doc_id % 5 ≠ 0), written once per data dir and served from
    * parquet — s29's stored side (the t25/t51 idiom: old text never
    * re-scanned at ingestion time). */
  private val containmentIndexCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[queries] def containmentIndex(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val path = containmentIndexCache.computeIfAbsent(d, _ => {
      val dir = java.nio.file.Files.createTempDirectory(
        graft.streaming.StreamingRelational.scratchBase, "containment-index")
      sys.addShutdownHook(graft.streaming.StreamingRelational.deleteRecursively(dir))
      val p = dir.resolve("t").toString
      Dedup.containmentFeatures(
          Tables.documents(s, d).filter(col("doc_id") % 5 =!= 0),
          col("text"), col("doc_id"), n = 3)
        .write.mode("overwrite").parquet(p)
      p
    })
    s.read.parquet(path)
  }

  /** t79/s32's shared oracle: t68's FULL-corpus replay restricted to
    * the increment docs — any distinct-merge error shifts a
    * continuation count and fails the hash. LAZY: builds on
    * knOracleSql, declared after `all`. */
  private[queries] lazy val knIncrementOracle: String =
    s"""SELECT doc_id, lang, n_trigrams, surprisal
       |FROM ($knOracleSql) k WHERE CAST(doc_id % 5 AS INT) = 0
       |ORDER BY doc_id""".stripMargin

  /** t79/s32's shared serve step: merge the increment's trigram counts
    * into the stored table by key and score the increment against the
    * merged LM. */
  private[queries] def knScoreIncrement(s: org.apache.spark.sql.SparkSession,
      d: String, tgNew: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val merged = knTriIndex(s, d).unionByName(knTriCounts(tgNew))
      .groupBy(col("lang"), col("g")).agg(sum(col("c")).as("c"))
    knScore(tgNew, merged).orderBy(col("doc_id"))
  }

  /** t79's persisted LM state: the OLD corpus's (lang, g, c) trigram
    * counts (doc_id % 5 ≠ 0), written once per data dir and served
    * from parquet — the old text is never re-tokenized at increment
    * time (the t25/t51 stored-index idiom). */
  private val knTriIndexCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[queries] def knTriIndex(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val path = knTriIndexCache.computeIfAbsent(d, _ => {
      val dir = java.nio.file.Files.createTempDirectory(
        graft.streaming.StreamingRelational.scratchBase, "kn-tri-index")
      sys.addShutdownHook(graft.streaming.StreamingRelational.deleteRecursively(dir))
      val p = dir.resolve("t").toString
      knTriCounts(knTrigrams(
          Tables.documents(s, d).filter(col("doc_id") % 5 =!= 0)))
        .write.mode("overwrite").parquet(p)
      p
    })
    s.read.parquet(path)
  }

  /** One unigram-LM fit per data dir (t73/t74) — the
    * share-the-training-run idiom; training is deterministic (integer
    * Viterbi costs, exact count re-estimation). */
  private val unigramCache = new java.util.concurrent.ConcurrentHashMap[String, Map[String, Long]]()

  private[queries] def unigramVocab(s: org.apache.spark.sql.SparkSession, d: String): Map[String, Long] =
    unigramCache.computeIfAbsent(d, _ =>
      graft.operators.UnigramLm.fit(Tables.documents(s, d), col("text")))


  /** t56's warm-started weights: 30 rounds on the existing corpus
    * (doc_id % 5 ≠ 0), 10 continuation rounds on old ∪ increment. */
  private val refreshCache = new java.util.concurrent.ConcurrentHashMap[String, Array[Double]]()

  private def refreshedWeights(s: org.apache.spark.sql.SparkSession, d: String): Array[Double] =
    refreshCache.computeIfAbsent(d, _ => {
      import graft.operators.TextClassifier
      val docs = Tables.documents(s, d)
      val old = TextClassifier.fit(
        docs.filter(col("doc_id") % 5 =!= 0), col("text"), classifierLabel)
      TextClassifier.fitFrom(docs, col("text"), classifierLabel, old, rounds = 10)
    })

  /** Prebuilt MinHash signature index of the "existing" corpus
    * (doc_id % 5 ≠ 0), written ONCE per data dir and served from
    * parquet — the t25 incremental path joins against these files; the
    * signature kernel never re-runs over the old corpus at query time
    * (v07's servedIndex precedent; at scale the table would be written
    * bucketed by band_hash so only the new batch shuffles). Shared with
    * s06, which runs the same dedup as an ingestion stream. */
  private val dedupIndexCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[queries] def dedupIndex(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val path = dedupIndexCache.computeIfAbsent(d, _ => {
      val dir = java.nio.file.Files.createTempDirectory(
        graft.streaming.StreamingRelational.scratchBase, "minhash-index")
      sys.addShutdownHook(graft.streaming.StreamingRelational.deleteRecursively(dir))
      Dedup.minHashIndex(
          Tables.documents(s, d).filter(col("doc_id") % 5 =!= 0),
          col("text"), col("doc_id"))
        .write.mode("overwrite").parquet(dir.toString)
      dir.toString
    })
    s.read.parquet(path)
  }
}
