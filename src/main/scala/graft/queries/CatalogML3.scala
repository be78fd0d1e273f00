package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Quantize, Sampling, TextOps}
import graft.ops.Tables._

/** Round-7 training-data-pipeline extensions: retrieval chunking,
  * corpus-wide keep-first line dedup (C4-style repetition removal with
  * document rewrite), per-domain token-budget selection, BPE
  * vocabulary induction (merge-pair statistics), and
  * product-quantization ANN. All five carry full DuckDB differential
  * oracles.
  */
object CatalogML3 {
  type Q = (SparkSession, String) => DataFrame

  def entries: Seq[(String, Q, Option[String])] = Seq(

    // Retrieval / context-window chunking: fixed 200-char chunks on a
    // 150-char stride (50-char overlap) with char offsets — a pure
    // row-local generator + substring projection, no shuffle. The
    // oracle replays offsets and slices verbatim.
    ("q111_chunk_overlap", (s: SparkSession, d: String) => {
      TextOps.chunkDocs(spread(table(s, d, "documents"), "doc_id"),
          "doc_id", "text", chunkChars = 200, strideChars = 150)
        .orderBy("doc_id", "chunk_id")
    }, Some(
      """SELECT doc_id,
        |       (s // 150) AS chunk_id,
        |       s AS chunk_start,
        |       substr(text, CAST(s + 1 AS INT), 200) AS chunk_text,
        |       CAST(len(substr(text, CAST(s + 1 AS INT), 200)) AS BIGINT) AS chunk_chars
        |FROM (SELECT doc_id, text,
        |             unnest(generate_series(0, len(text) - 1, 150)) AS s
        |      FROM documents WHERE len(text) > 0)
        |ORDER BY doc_id, chunk_id""".stripMargin)),

    // Corpus-wide keep-first line dedup with rewrite: a non-blank line
    // survives only at its global first occurrence (by (doc_id, pos));
    // later copies anywhere in the corpus are cut from the text. The
    // fixture's documents are single-line word soup (no '\n', no
    // repeated full texts), which would leave the operator untested —
    // so the query first derives a line corpus deterministically: each
    // doc's first 12 tokens become its lines, with token 'a' mapped to
    // a BLANK line (blank lines are structure: kept verbatim, never
    // matched). The ~40-token vocabulary makes cross-document line
    // collisions pervasive, so keep-first genuinely rewrites. The
    // oracle re-derives first occurrences with a window over the same
    // md5 digests and reassembles with an ordered string_agg.
    ("q112_dedup_lines_global", (s: SparkSession, d: String) => {
      val lined = table(s, d, "documents").select(col("doc_id"),
        array_join(
          transform(slice(split(trim(col("text")), "\\s+"), 1, 12),
            t => when(t === "a", "").otherwise(t)),
          "\n").as("ltext"))
      Dedup.dedupLinesGlobal(spread(lined, "doc_id"), "doc_id", "ltext")
        .orderBy("doc_id")
    }, Some(
      """WITH ls AS (
        |  SELECT doc_id,
        |         list_transform(string_split_regex(trim(text), '\s+')[1:12],
        |                        x -> CASE WHEN x = 'a' THEN '' ELSE x END)
        |           AS arr
        |  FROM documents
        |), l AS (
        |  SELECT doc_id, unnest(arr) AS line,
        |         unnest(generate_series(1, len(arr))) AS pos
        |  FROM ls
        |), f AS (
        |  SELECT doc_id, pos,
        |         row_number() OVER (PARTITION BY md5(line)
        |                            ORDER BY doc_id, pos) AS rn
        |  FROM l WHERE len(trim(line)) > 0
        |)
        |SELECT l.doc_id,
        |       coalesce(string_agg(CASE WHEN f.rn IS NULL OR f.rn = 1
        |                                THEN l.line END,
        |                           chr(10) ORDER BY l.pos), '') AS clean_text,
        |       CAST(count(*) AS BIGINT) AS n_lines,
        |       CAST(count(CASE WHEN f.rn > 1 THEN 1 END) AS BIGINT) AS n_dropped
        |FROM l LEFT JOIN f ON l.doc_id = f.doc_id AND l.pos = f.pos
        |GROUP BY l.doc_id ORDER BY l.doc_id""".stripMargin)),

    // Per-domain token-budget selection: order each source's documents
    // by (n_chars DESC, doc_id), keep while the running token total
    // stays <= 800 — greedy budget fill, all-integer arithmetic, so
    // the window prefix sums replay exactly. (The fixture's sources
    // carry ~1100-1550 tokens each, so an 800-token budget cuts every
    // source roughly in half — the constraint actually binds.)
    ("q113_budget_select", (s: SparkSession, d: String) => {
      val scored = table(s, d, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"),
          TextOps.tokenCount(col("text")).cast("long").as("n_toks"))
      Sampling.budgetSelect(scored, "doc_id", "source",
          orderCol = "n_chars", weightCol = "n_toks", budget = 800L)
        .orderBy("source", "doc_id")
    }, Some(
      """WITH t AS (
        |  SELECT doc_id, source, n_chars,
        |         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_toks
        |  FROM documents
        |), w AS (
        |  SELECT doc_id, source, n_chars, n_toks,
        |         CAST(sum(n_toks) OVER (PARTITION BY source
        |                                ORDER BY n_chars DESC, doc_id ASC
        |                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |           AS cum_weight
        |  FROM t
        |)
        |SELECT doc_id, source, n_chars, n_toks, cum_weight
        |FROM w WHERE cum_weight <= 800
        |ORDER BY source, doc_id""".stripMargin)),

    // BPE merge-pair statistics (Sennrich et al. 2016, one selection
    // step): adjacent character pairs over the DISTINCT lowercased word
    // vocabulary, weighted by word frequency — the top row is the next
    // BPE merge. Pure integer counts; the oracle enumerates the same
    // substr bigrams. (The iterative bpeLearn loop is spec-tested —
    // its merge REWRITES aren't one SQL statement.)
    ("q114_bpe_merges", (s: SparkSession, d: String) => {
      TextOps.bpeTopPairs(table(s, d, "documents"), "text", k = 50)
    }, Some(
      """WITH w AS (
        |  SELECT word, count(*) AS cnt FROM (
        |    SELECT unnest(list_transform(string_split_regex(trim(text), '\s+'),
        |                                 x -> lower(x))) AS word
        |    FROM documents)
        |  GROUP BY word HAVING len(word) >= 2
        |), p AS (
        |  SELECT substr(word, i, 2) AS pair, cnt FROM (
        |    SELECT word, cnt,
        |           unnest(generate_series(1, len(word) - 1)) AS i
        |    FROM w)
        |)
        |SELECT pair, CAST(sum(cnt) AS BIGINT) AS n
        |FROM p GROUP BY pair
        |ORDER BY n DESC, pair ASC LIMIT 50""".stripMargin)),

    // Product-quantization ANN (Jégou et al. 2011): 64 floats → 16
    // one-byte codes (m=16 subspaces × ksub=16 portable seed
    // centroids, 16× compression), candidates scored by O(m) ADC
    // table lookups / vnorm, exact cosine re-rank of the
    // 64-shortlist (recall@5 ≈ 0.88 vs exact on this fixture —
    // DuckDB-swept m∈{4,8,16}×sl∈{32,64}; seed codebooks trade
    // recall for the bit-reproducibility that makes this doubly
    // approximate method fully oracle-able). Every stage is
    // deterministic IEEE arithmetic in a pinned order (encode argmin
    // fold, table inner products, the ADC sum as a left-assoc
    // list_reduce over subspace order — IEEE-equal to the expression
    // loops from 0.0), so the oracle replays the WHOLE search
    // verbatim.
    ("q115_ann_pq", (s: SparkSession, d: String) => {
      val emb = table(s, d, "embeddings")
      graft.ops.Similarity.pqTopK(
          emb, "vec_id", "embedding",
          emb.where(col("vec_id") < 100)
            .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          "qid", "qvec", k = 5, m = 16, ksub = 16, shortlist = 64)
        .orderBy("qid", "rank")
    }, Some(
      """WITH seeds AS (
        |  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC,
        |                            vec_id ASC) - 1 AS c,
        |         embedding
        |  FROM embeddings
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC LIMIT 16
        |), cb AS (
        |  SELECT jj.j, s.c, s.embedding[(jj.j*4 + 1):(jj.j*4 + 4)] AS cv
        |  FROM seeds s CROSS JOIN (SELECT unnest(range(0, 16)) AS j) jj
        |), dist AS (
        |  SELECT e.vec_id, cb.j, cb.c,
        |         list_reduce(list_transform(range(1, 5), i ->
        |           (CAST(e.embedding[cb.j*4 + i] AS DOUBLE)
        |              - CAST(cb.cv[i] AS DOUBLE))
        |           * (CAST(e.embedding[cb.j*4 + i] AS DOUBLE)
        |              - CAST(cb.cv[i] AS DOUBLE))),
        |           (a, b) -> a + b) AS d2
        |  FROM embeddings e CROSS JOIN cb
        |), enc AS (
        |  SELECT vec_id, j, c AS code FROM (
        |    SELECT vec_id, j, c,
        |           row_number() OVER (PARTITION BY vec_id, j
        |                              ORDER BY d2 ASC, c ASC) AS rn
        |    FROM dist) WHERE rn = 1
        |), encl AS (
        |  SELECT vec_id, list(code ORDER BY j) AS codes FROM enc GROUP BY vec_id
        |), vn AS (
        |  SELECT vec_id, sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                                       CAST(embedding AS DOUBLE[]))) AS vnorm
        |  FROM embeddings
        |), dt AS (
        |  SELECT q.vec_id AS qid, cb.j, cb.c,
        |         list_reduce(list_transform(range(1, 5), i ->
        |           CAST(q.embedding[cb.j*4 + i] AS DOUBLE)
        |             * CAST(cb.cv[i] AS DOUBLE)),
        |           (a, b) -> a + b) AS ip
        |  FROM embeddings q CROSS JOIN cb WHERE q.vec_id < 100
        |), dtl AS (
        |  SELECT qid, list(ip ORDER BY j*16 + c) AS dtab FROM dt GROUP BY qid
        |), approx AS (
        |  SELECT d.qid, e.vec_id,
        |         CASE WHEN vn.vnorm = 0 THEN 0.0
        |              ELSE list_reduce(list_transform(range(1, 17), j ->
        |                     d.dtab[(j-1)*16 + e.codes[j] + 1]),
        |                     (a, b) -> a + b) / vn.vnorm
        |         END AS qscore
        |  FROM encl e CROSS JOIN dtl d
        |  JOIN vn ON vn.vec_id = e.vec_id
        |  WHERE e.vec_id != d.qid
        |), short AS (
        |  SELECT qid, vec_id FROM (
        |    SELECT qid, vec_id,
        |           row_number() OVER (PARTITION BY qid
        |                              ORDER BY qscore DESC, vec_id ASC) AS rn
        |    FROM approx) WHERE rn <= 64
        |), rerank AS (
        |  SELECT s.qid, s.vec_id,
        |         list_cosine_similarity(CAST(qv.embedding AS DOUBLE[]),
        |                                CAST(cv.embedding AS DOUBLE[])) AS cos
        |  FROM short s JOIN embeddings qv ON qv.vec_id = s.qid
        |               JOIN embeddings cv ON cv.vec_id = s.vec_id
        |)
        |SELECT qid, CAST(rank AS INT) AS rank, vec_id, cos FROM (
        |  SELECT qid, vec_id, cos,
        |         row_number() OVER (PARTITION BY qid
        |                            ORDER BY cos DESC, vec_id ASC) AS rank
        |  FROM rerank) WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin)),

    // BPE ENCODE: apply a pinned merge table corpus-wide and count the
    // resulting tokens. The table is the 8-round bpeLearn output on
    // this very fixture, pinned as literals (the oracle's SQL is
    // static, so it cannot re-run the iterative learner — q114 +
    // TextPipelineSpec verify learning; THIS query verifies the
    // application operator). Whole-text marker form: one regexp pass +
    // 8 literal `replace`es — both engines' replace is left-to-right
    // non-overlapping, the exact greedy-scan semantics of BPE. Note
    // "m"+"er": later merges match earlier merges' OUTPUT symbols.
    // Round 9: the Spark side runs the COMPILED encoder
    // (functions.BpeEncodeMerges — one node holding the whole rank
    // table) while the oracle keeps the literal replace chain, so the
    // driver gate itself certifies chain ≡ compiled on every fixture
    // row; TextPipelineSpec additionally pins the equivalence on a
    // learned ~1k-merge table the chain could never codegen.
    ("q116_bpe_encode", (s: SparkSession, d: String) => {
      val docs = spread(table(s, d, "documents"), "doc_id")
      val sym = TextOps.bpeSymbolString(col("text"))
      docs.select(col("doc_id"),
          (length(sym) - length(trim(lower(col("text"))))).cast("long")
            .as("n_syms"),
          TextOps.bpeTokenCountCompiled(col("text"), Q116Merges).as("n_bpe_tokens"))
        .withColumn("compression",
          col("n_syms").cast("double") / col("n_bpe_tokens").cast("double"))
        .orderBy("doc_id")
    }, Some {
      val s0 = """regexp_replace(trim(lower(text)), '(\S)', chr(1) || '\1', 'g')"""
      val chain = Q116Merges.foldLeft("s") { case (acc, (l, r)) =>
        s"replace($acc, chr(1) || '$l' || chr(1) || '$r', chr(1) || '$l$r')"
      }
      s"""WITH s0 AS (
         |  SELECT doc_id, $s0 AS s, len(trim(lower(text))) AS rawlen
         |  FROM documents
         |), e AS (
         |  SELECT doc_id,
         |         CAST(len(s) - rawlen AS BIGINT) AS n_syms,
         |         CAST(len($chain) - len(replace($chain, chr(1), '')) AS BIGINT)
         |           AS n_enc_chars_twice
         |  FROM s0
         |)
         |SELECT doc_id, n_syms,
         |       n_enc_chars_twice AS n_bpe_tokens,
         |       CAST(n_syms AS DOUBLE) / CAST(n_enc_chars_twice AS DOUBLE)
         |         AS compression
         |FROM e ORDER BY doc_id""".stripMargin
    }),

    // Gopher rule-based quality filter — the FULL Rae et al. 2021
    // Appendix-A rule set: word-count band, mean-word-length band,
    // alpha-word fraction, stopword presence, symbol-to-word ratio,
    // bullet-line fraction, ellipsis-line fraction, and the four
    // repetition fractions (duplicate line/paragraph, count- and
    // character-mass-based) → composite keep. The fixture's documents
    // are single-line, so the query derives a structured text first
    // (the q120 derived-column trick): doc_id%4 picks plain /
    // bullet-heavy / ellipsis-heavy / duplicated-paragraph shapes, so
    // every line- and paragraph-level rule observably splits the
    // fixture. Counts are exact integers and each fraction is one
    // double division, so flags replay bit-exactly.
    ("q117_gopher_filter", (s: SparkSession, d: String) => {
      val docs = spread(table(s, d, "documents"), "doc_id")
      val m4 = col("doc_id") % 4
      val structured = docs.withColumn("text",
        when(m4 === 1, call_function("replace", col("text"), lit(" "), lit("\n- ")))
          .when(m4 === 2, call_function("replace", col("text"), lit(" "), lit("...\n")))
          .when(m4 === 3, concat(col("text"), lit("\n\n"), col("text")))
          .otherwise(col("text")))
      TextOps.gopherQualityFlags(structured, "doc_id", "text", minWords = 30)
        .orderBy("doc_id")
    }, Some {
      val stopList = TextOps.GopherStopwords.map(w => s"'$w'").mkString(", ")
      s"""WITH base AS (
         |  SELECT doc_id,
         |         CASE CAST(doc_id % 4 AS INT)
         |           WHEN 1 THEN replace(text, ' ', chr(10) || '- ')
         |           WHEN 2 THEN replace(text, ' ', '...' || chr(10))
         |           WHEN 3 THEN text || chr(10) || chr(10) || text
         |           ELSE text END AS text
         |  FROM documents
         |), tok AS (
         |  SELECT doc_id, text,
         |         list_transform(string_split_regex(trim(text), '\\s+'),
         |                        x -> lower(x)) AS ts,
         |         list_filter(string_split_regex(text, '\\n'),
         |                     l -> len(trim(l)) > 0) AS lines,
         |         list_filter(string_split_regex(text, '\\n\\n'),
         |                     p -> len(trim(p)) > 0) AS paras
         |  FROM base
         |), m AS (
         |  SELECT doc_id,
         |         CAST(len(ts) AS BIGINT) AS n_words,
         |         CAST(list_sum(list_transform(ts, t -> len(t))) AS BIGINT) AS sumlen,
         |         CAST(len(list_filter(ts, t -> regexp_matches(t, '[a-z]'))) AS BIGINT)
         |           AS alpha,
         |         CAST(len(list_filter(ts, t ->
         |           list_contains([$stopList], t))) AS BIGINT) AS stop_hits,
         |         CAST((len(text) - len(replace(text, '#', '')))
         |           + (len(text) - len(replace(text, '...', ''))) // 3 AS BIGINT)
         |           AS syms,
         |         CAST(len(lines) AS BIGINT) AS nlines,
         |         CAST(len(list_filter(lines, l ->
         |           starts_with(ltrim(l), '- ') OR starts_with(ltrim(l), '* ')
         |             OR starts_with(ltrim(l), '• '))) AS BIGINT) AS bullets,
         |         CAST(len(list_filter(lines, l ->
         |           ends_with(rtrim(l), '...') OR ends_with(rtrim(l), '…')))
         |           AS BIGINT) AS ellip,
         |         CASE WHEN len(lines) = 0 THEN 0.0
         |              ELSE 1.0 - CAST(len(list_distinct(lines)) AS DOUBLE)
         |                   / CAST(len(lines) AS DOUBLE) END AS dup_line_frac,
         |         CAST(coalesce(list_sum(list_transform(lines, l -> len(l))), 0)
         |           AS BIGINT) AS lchars,
         |         CAST(coalesce(list_sum(list_transform(list_distinct(lines),
         |           l -> len(l))), 0) AS BIGINT) AS lcharsd,
         |         CASE WHEN len(paras) = 0 THEN 0.0
         |              ELSE 1.0 - CAST(len(list_distinct(paras)) AS DOUBLE)
         |                   / CAST(len(paras) AS DOUBLE) END AS dup_para_frac,
         |         CAST(coalesce(list_sum(list_transform(paras, p -> len(p))), 0)
         |           AS BIGINT) AS pchars,
         |         CAST(coalesce(list_sum(list_transform(list_distinct(paras),
         |           p -> len(p))), 0) AS BIGINT) AS pcharsd
         |  FROM tok
         |), f AS (
         |  SELECT doc_id, n_words,
         |         CAST(sumlen AS DOUBLE) / CAST(n_words AS DOUBLE) AS mean_word_len,
         |         CAST(alpha AS DOUBLE) / CAST(n_words AS DOUBLE) AS alpha_frac,
         |         stop_hits,
         |         CAST(syms AS DOUBLE) / CAST(n_words AS DOUBLE) AS symbol_ratio,
         |         dup_line_frac,
         |         CASE WHEN lchars = 0 THEN 0.0
         |              ELSE 1.0 - CAST(lcharsd AS DOUBLE) / CAST(lchars AS DOUBLE)
         |              END AS dup_line_char_frac,
         |         CASE WHEN nlines = 0 THEN 0.0
         |              ELSE CAST(bullets AS DOUBLE) / CAST(nlines AS DOUBLE)
         |              END AS bullet_frac,
         |         CASE WHEN nlines = 0 THEN 0.0
         |              ELSE CAST(ellip AS DOUBLE) / CAST(nlines AS DOUBLE)
         |              END AS ellipsis_frac,
         |         dup_para_frac,
         |         CASE WHEN pchars = 0 THEN 0.0
         |              ELSE 1.0 - CAST(pcharsd AS DOUBLE) / CAST(pchars AS DOUBLE)
         |              END AS dup_para_char_frac
         |  FROM m
         |)
         |SELECT doc_id, n_words, mean_word_len, alpha_frac, stop_hits,
         |       symbol_ratio, dup_line_frac, dup_line_char_frac,
         |       bullet_frac, ellipsis_frac, dup_para_frac,
         |       dup_para_char_frac,
         |       (n_words BETWEEN 30 AND 100000)
         |         AND (mean_word_len BETWEEN 3.0 AND 10.0)
         |         AND (alpha_frac >= 0.8)
         |         AND (stop_hits >= 2)
         |         AND (symbol_ratio <= 0.1)
         |         AND (dup_line_frac <= 0.3)
         |         AND (dup_line_char_frac <= 0.2)
         |         AND (bullet_frac <= 0.9)
         |         AND (ellipsis_frac <= 0.3)
         |         AND (dup_para_frac <= 0.3)
         |         AND (dup_para_char_frac <= 0.2) AS keep
         |FROM f ORDER BY doc_id""".stripMargin
    })
  )

  /** q116's pinned merge table: `TextOps.bpeLearn(documents, 8)` on the
    * sf0.01 fixture (count-desc, (l,r)-asc ties) — realistic input for
    * the encode operator while keeping the oracle SQL static. */
  private val Q116Merges: Seq[(String, String)] = Seq(
    "e" -> "r", "i" -> "n", "o" -> "w", "o" -> "r",
    "s" -> "t", "m" -> "er", "a" -> "t", "l" -> "u")

  /** Extra round-7 entries appended after the main block (Scala's 22-ish
    * tuple ergonomics aside, keeping blocks small keeps diffs small). */
  def entries2: Seq[(String, Q, Option[String])] = Seq(

    // Bigram-LM surprisal: mean −ln p(w2|w1), add-one smoothing over
    // corpus bigram/unigram counts — the n-gram quality signal with a
    // FULL oracle: both ln arguments are positive integers, so they run
    // through the portable integer-ln series on both engines, and the
    // per-doc sum is exact DECIMAL. (unigramLogProb keeps the libm-log
    // variant for production; this one is the differential-testable
    // form.)
    // materialize = true: the round-8 A/B verdict — one
    // checkpoint-truncated token frame beats the three independent
    // tokenize subtrees 6.71 s vs 8.51 s at x100 (tied at x1/x10);
    // measured trade recorded in SCALING.md.
    ("q118_text_bigram_lm", (s: SparkSession, d: String) => {
      TextOps.bigramSurprisal(
          spread(table(s, d, "documents"), "doc_id"), "doc_id", "text",
          materialize = true)
        .orderBy("doc_id")
    }, Some {
      import graft.functions.PortableSketches.lnOfIntSql
      s"""WITH tok AS (
         |  SELECT doc_id,
         |         list_transform(string_split_regex(trim(text), '\\s+'),
         |                        x -> lower(x)) AS ts
         |  FROM documents
         |), bg AS (
         |  SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
         |  FROM (SELECT doc_id, ts,
         |               unnest(generate_series(1, len(ts) - 1)) AS i
         |        FROM tok WHERE len(ts) >= 2)
         |), bc AS (
         |  SELECT w1, w2, count(*) AS bcnt FROM bg GROUP BY w1, w2
         |), uc AS (
         |  SELECT w1, count(*) AS ucnt FROM (
         |    SELECT unnest(ts) AS w1 FROM tok) GROUP BY w1
         |), v AS (
         |  SELECT count(DISTINCT w1) AS vv FROM (
         |    SELECT unnest(ts) AS w1 FROM tok)
         |), sc AS (
         |  SELECT g.doc_id,
         |         (${lnOfIntSql("(bc.bcnt + 1)")}
         |           - ${lnOfIntSql("(uc.ucnt + v.vv)")}) AS logp
         |  FROM bg g
         |  JOIN bc USING (w1, w2)
         |  JOIN uc USING (w1)
         |  CROSS JOIN v
         |)
         |SELECT doc_id,
         |       CAST(count(*) AS BIGINT) AS n_bigrams,
         |       CAST(sum(CAST(-logp AS DECIMAL(38,12))) AS DOUBLE)
         |         / CAST(count(*) AS DOUBLE) AS surprisal
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin
    }),

    // Signed random projection (Achlioptas ±1 / Johnson-Lindenstrauss):
    // 64-dim float embeddings → 16 exact double sums under an
    // md5-derived sign matrix — dimensionality reduction whose entire
    // arithmetic (±1 signs from hex-nibble parity, index-order
    // accumulation) replays verbatim in the oracle. Row-local codegen
    // expression, no shuffle.
    // The projection is unwrapped into 16 scalar double columns
    // (p_00..p_15) rather than returned as one array column: the
    // driver's pandas compare sorts every column and cannot factorize
    // ndarray cells (the round-1 q25 failure class,
    // CatalogScalar.scala:114-118), and scalars keep the float bits
    // engine-exact where a string render would not.
    ("q119_embed_project", (s: SparkSession, d: String) => {
      val lanes = (0 until 16).map(j =>
        element_at(col("proj"), j + 1).as(f"p_$j%02d"))
      Quantize.srpProject(
          spread(table(s, d, "embeddings"), "vec_id"), "vec_id", "embedding",
          outDim = 16, dim = 64, seed = 42L)
        .select(col("vec_id") +: lanes: _*)
        .orderBy("vec_id")
    }, Some {
      val laneSql = (0 until 16).map(j =>
        f"       max(CASE WHEN j = $j THEN pv END) AS p_$j%02d").mkString(",\n")
      s"""WITH sg AS (
         |  SELECT jj.j AS j, ii.i AS i,
         |         CASE WHEN (('0x' || substr(
         |             md5('42:' || jj.j || ':' || ii.i), 1, 1))::INT % 2) = 0
         |              THEN 1.0 ELSE -1.0 END AS s
         |  FROM (SELECT unnest(range(0, 16)) AS j) jj
         |  CROSS JOIN (SELECT unnest(range(0, 64)) AS i) ii
         |), sgl AS (
         |  SELECT j, list(s ORDER BY i) AS srow FROM sg GROUP BY j
         |), proj AS (
         |  SELECT e.vec_id, sgl.j,
         |         list_reduce(list_transform(range(1, 65), i ->
         |           srow[i] * CAST(e.embedding[i] AS DOUBLE)),
         |           (a, b) -> a + b) AS pv
         |  FROM embeddings e CROSS JOIN sgl
         |)
         |SELECT vec_id,
         |$laneSql
         |FROM proj GROUP BY vec_id ORDER BY vec_id""".stripMargin
    }),

    // Generic table profiling: per-column row/null/distinct counts and
    // the modal value — one melt, one (column, value) shuffle, stats
    // from the count table. The nullable derived column (lang with
    // 'en' nulled out) makes the null path bind on this fixture.
    ("q120_profile_summary", (s: SparkSession, d: String) => {
      val docs = table(s, d, "documents")
      graft.ops.Profile.summary(docs, Seq(
          "doc_id" -> col("doc_id"),
          "lang" -> col("lang"),
          "lang_non_en" -> when(col("lang") === "en", lit(null)).otherwise(col("lang")),
          "source" -> col("source"),
          "n_chars" -> col("n_chars")))
        .orderBy("col_name")
    }, Some(
      """WITH p AS (
        |  SELECT 'doc_id' AS col_name, CAST(doc_id AS VARCHAR) AS value FROM documents
        |  UNION ALL
        |  SELECT 'lang', CAST(lang AS VARCHAR) FROM documents
        |  UNION ALL
        |  SELECT 'lang_non_en',
        |         CASE WHEN lang = 'en' THEN NULL ELSE CAST(lang AS VARCHAR) END
        |  FROM documents
        |  UNION ALL
        |  SELECT 'source', CAST(source AS VARCHAR) FROM documents
        |  UNION ALL
        |  SELECT 'n_chars', CAST(n_chars AS VARCHAR) FROM documents
        |), c AS (
        |  SELECT col_name, value, count(*) AS cnt FROM p GROUP BY col_name, value
        |), t AS (
        |  SELECT col_name, value AS top_value, cnt AS top_count,
        |         row_number() OVER (PARTITION BY col_name
        |                            ORDER BY cnt DESC, value ASC) AS rn
        |  FROM c WHERE value IS NOT NULL
        |)
        |SELECT c2.col_name,
        |       CAST(sum(c2.cnt) AS BIGINT) AS n_rows,
        |       CAST(coalesce(sum(CASE WHEN c2.value IS NULL THEN c2.cnt END), 0)
        |            AS BIGINT) AS n_nulls,
        |       CAST(count(CASE WHEN c2.value IS NOT NULL THEN 1 END) AS BIGINT)
        |         AS n_distinct,
        |       any_value(t.top_value) AS top_value,
        |       CAST(any_value(t.top_count) AS BIGINT) AS top_count
        |FROM c c2 JOIN t ON t.col_name = c2.col_name AND t.rn = 1
        |GROUP BY c2.col_name ORDER BY c2.col_name""".stripMargin)),

    // Parquet bloom-filter layout ON THE GATE (q79's z-order
    // precedent): write a bloom-filtered copy of documents (doc_id
    // column, dictionary disabled so parquet-mr emits the filter),
    // REQUIRE at the parquet footer that every data file carries the
    // filter — the query fails loudly if the layout silently stopped
    // producing blooms — then point-probe present and absent keys
    // through a fresh scan of the copy. The result is the probe rows,
    // stated directly off the original table by the oracle; the
    // parquet-level hit/miss behavior and the measured A/B live in
    // OpsSpec and SCALING.md (round 7).
    ("q121_bloom_probe", (s: SparkSession, d: String) => {
      import scala.jdk.CollectionConverters._
      val docs = table(s, d, "documents")
      // per-process scratch (shutdown-deleted): stable within the
      // process so a 3-pass bench overwrites one copy, pid-keyed so two
      // drivers on the same fixture cannot race each other's overwrite
      val dir = new java.io.File(
        graft.ops.LocalFiles.processScratchDir("bloom-q121"),
        Integer.toHexString(d.hashCode)).toString
      graft.ops.Layout.writeWithBloom(
        docs.select(col("doc_id"), col("lang"), col("source"), col("n_chars")),
        dir, Seq("doc_id"), expectedNdv = 100000L)
      new java.io.File(dir).listFiles()
        .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
        .foreach { part =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(part.getAbsolutePath),
            s.sparkContext.hadoopConfiguration)
          val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try reader.getFooter.getBlocks.asScala.foreach { b =>
            val c = b.getColumns.asScala
              .find(_.getPath.toDotString == "doc_id").get
            require(c.getBloomFilterOffset >= 0,
              s"bloom filter missing on doc_id in ${part.getName}")
          } finally reader.close()
        }
      s.read.parquet(dir)
        .where(col("doc_id").isin(7L, 123L, 311L, 499L, 1000003L))
        .orderBy("doc_id")
    }, Some(
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE doc_id IN (7, 123, 311, 499, 1000003)
        |ORDER BY doc_id""".stripMargin)),

    // Small-files compaction ON THE GATE: stage documents as a 64-file
    // sliver layout (the pathological ingest shape — one file per task
    // per micro-batch), compact to data-sized files, REQUIRE the file
    // count actually collapsed, and return the compacted content. The
    // oracle is the table itself: compaction must be lossless; the
    // count `require` is the layout evidence the content alone cannot
    // carry.
    ("q131_compact", (s: SparkSession, d: String) => {
      val base = new java.io.File(
        graft.ops.LocalFiles.processScratchDir("compact-q131"),
        Integer.toHexString(d.hashCode))
      val sliver = new java.io.File(base, "sliver").toString
      val out = new java.io.File(base, "compacted").toString
      table(s, d, "documents").repartition(64)
        .write.mode("overwrite").parquet(sliver)
      // target derived from the MEASURED sliver bytes (quarter of the
      // data → ≤ ~4-5 output files at ANY fixture scale) — a constant
      // target would couple the gate to the fixture staying small
      val srcPath = new org.apache.hadoop.fs.Path(sliver)
      val bytes = srcPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        .getContentSummary(srcPath).getLength
      val n = graft.ops.Layout.compactTo(s, sliver, out,
        targetFileBytes = math.max(1L, bytes / 4))
      require(n < 64 && n <= 5,
        s"compaction left $n files — the sliver layout survived")
      s.read.parquet(out)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
        .orderBy("doc_id")
    }, Some(
      """SELECT doc_id, text, lang, source, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin)),

    // Hard-negative mining (contrastive-training prep): per anchor, the
    // top-5 highest-cosine vectors with a DIFFERENT label — the dual of
    // q37's ANN search with the class constraint inverted. Same
    // broadcast-scan plan, label filter before the heap; the oracle is
    // q37's exact-cosine ranking plus the label inequality.
    ("q132_hard_negatives", (s: SparkSession, d: String) => {
      val emb = table(s, d, "embeddings")
      graft.ops.Similarity.hardNegatives(
          emb, "vec_id", "embedding", "label",
          emb.where(col("vec_id") < 60)
            .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
              col("label").as("qlabel")),
          "qid", "qvec", "qlabel", k = 5)
        .orderBy("qid", "rank")
    }, Some(
      """WITH q AS (
        |  SELECT vec_id AS qid, embedding AS qvec, label AS qlabel
        |  FROM embeddings WHERE vec_id < 60
        |), j AS (
        |  SELECT q.qid, v.vec_id,
        |         list_cosine_similarity(CAST(q.qvec AS DOUBLE[]),
        |                                CAST(v.embedding AS DOUBLE[])) AS cos,
        |         row_number() OVER (PARTITION BY q.qid
        |                            ORDER BY list_cosine_similarity(CAST(q.qvec AS DOUBLE[]),
        |                                                            CAST(v.embedding AS DOUBLE[])) DESC,
        |                                     v.vec_id ASC) AS rank
        |  FROM q JOIN embeddings v
        |    ON v.vec_id != q.qid AND v.label IS DISTINCT FROM q.qlabel
        |)
        |SELECT qid, CAST(rank AS INT) AS rank, vec_id, cos
        |FROM j WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin)),

    // Unicode + whitespace canonicalization — the pre-hash pass every
    // crawl pipeline runs. The fixture is clean ASCII, so the query
    // derives dirty text first (the q117/q120 trick): doc_id%4 injects
    // decomposed accents (e + combining U+0301), BEL controls + CRLF
    // line ends, or doubled-space/tab noise. NFC must recompose the
    // accent to one code point (lengths prove it), controls must
    // vanish, whitespace must collapse — and Spark's Normalizer and
    // DuckDB's utf8proc must agree byte-for-byte on the result.
    ("q133_text_normalize", (s: SparkSession, d: String) => {
      val m4 = col("doc_id") % 4
      val dirty = when(m4 === 1,
          call_function("replace", col("text"), lit("e"), lit("é")))
        .when(m4 === 2, concat(
          call_function("replace", col("text"), lit("a"), lit("\u0007a")),
          lit("\r\ntail line\r")))
        .when(m4 === 3,
          call_function("replace",
            call_function("replace", col("text"), lit(" "), lit("  ")),
            lit("of"), lit("\tof\t")))
        .otherwise(col("text"))
      spread(table(s, d, "documents"), "doc_id")
        .select(col("doc_id"), dirty.as("__dirty"))
        .select(col("doc_id"),
          length(col("__dirty")).cast("long").as("n_chars_dirty"),
          TextOps.normalizeText(col("__dirty")).as("clean_text"))
        .withColumn("n_chars_clean", length(col("clean_text")).cast("long"))
        .orderBy("doc_id")
    }, Some {
      val dirty =
        s"""CASE CAST(doc_id % 4 AS INT)
           |  WHEN 1 THEN replace(text, 'e', 'e' || chr(769))
           |  WHEN 2 THEN replace(text, 'a', chr(7) || 'a') ||
           |              chr(13) || chr(10) || 'tail line' || chr(13)
           |  WHEN 3 THEN replace(replace(text, ' ', '  '),
           |                      'of', chr(9) || 'of' || chr(9))
           |  ELSE text END""".stripMargin
      s"""WITH b AS (
         |  SELECT doc_id, $dirty AS dirty FROM documents
         |)
         |SELECT doc_id,
         |       CAST(len(dirty) AS BIGINT) AS n_chars_dirty,
         |       ${TextOps.normalizeTextSql("dirty")} AS clean_text,
         |       CAST(len(${TextOps.normalizeTextSql("dirty")}) AS BIGINT)
         |         AS n_chars_clean
         |FROM b ORDER BY doc_id""".stripMargin
    }),

    // Corpus snapshot diff — the ingest audit between two table
    // versions. The "new" snapshot is derived: doc_id%11 rows removed,
    // doc_id%7 survivors' text edited, doc_id%13 rows re-added under
    // offset ids. corpusDiff reduces both sides to (id, sha256) before
    // its full-outer join — the shuffle carries fixed-width digests,
    // never text — and emits only the delta. The oracle states the
    // same full-outer comparison over the derived snapshots directly
    // (it compares TEXT, so it pins the semantics whatever digest the
    // operator uses).
    ("q134_corpus_diff", (s: SparkSession, d: String) => {
      val docs = table(s, d, "documents").select(col("doc_id"), col("text"))
      val survivors = docs.where(col("doc_id") % 11 =!= 0)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" changed!"))).otherwise(col("text")))
      // the re-added ids sit at +10^9 — OUTSIDE the scaling harness's
      // per-copy +i*10^6 id space, so the x10/x100 curve legs diff
      // clean unique-keyed snapshots (review finding: +10^6 aliased
      // copy i+1's ids and degenerated the join)
      val added = docs.where(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 1000000000L).as("doc_id"), col("text"))
      Dedup.corpusDiff(docs, survivors.unionAll(added), "doc_id", "text")
        .orderBy("doc_id")
    }, Some(
      """WITH oldt AS (
        |  SELECT doc_id, text FROM documents
        |), newt AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 7 = 0 THEN text || ' changed!'
        |              ELSE text END AS text
        |  FROM documents WHERE doc_id % 11 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000000, text FROM documents WHERE doc_id % 13 = 0
        |)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |       CASE WHEN o.doc_id IS NULL THEN 'added'
        |            WHEN n.doc_id IS NULL THEN 'removed'
        |            ELSE 'changed' END AS status
        |FROM oldt o FULL JOIN newt n ON o.doc_id = n.doc_id
        |WHERE o.doc_id IS NULL OR n.doc_id IS NULL
        |   OR o.text IS DISTINCT FROM n.text
        |ORDER BY doc_id""".stripMargin)),

    // CORPUS-SCALE hard-negative mining (anchors = the ENTIRE labeled
    // corpus — the contrastive-training shape q132's broadcast scan
    // cannot carry): each anchor scans only its nprobe/nlist probed
    // cells of the labeled IVF×int8 index, the different-label filter
    // runs BEFORE the shortlist heap, exact float re-rank on the
    // shortlist only. With the portable md5-seed model every stage
    // (seed cells → probe → int8 filter+shortlist → re-rank) replays
    // verbatim in the oracle — q95's replay plus the label
    // inequality, over all-rows anchors.
    ("q135_hard_negatives_indexed", (s: SparkSession, d: String) => {
      val emb = table(s, d, "embeddings")
      graft.ops.Similarity.hardNegativesQuantized(
          emb, "vec_id", "embedding", "label",
          emb.select(col("vec_id").as("qid"), col("embedding").as("qvec"),
            col("label").as("qlabel")),
          "qid", "qvec", "qlabel", k = 3, nlist = 16, nprobe = 4,
          portableSeeds = true)
        .orderBy("qid", "rank")
    }, Some(
      s"""WITH seeds AS (
         |  SELECT vec_id AS cent_id, embedding AS cent_vec
         |  FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC
         |  LIMIT 16
         |), base AS (
         |  SELECT vec_id, embedding, label,
         |         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
         |  FROM embeddings
         |), enc AS (
         |  SELECT vec_id, embedding, label,
         |         CASE WHEN ma = 0 THEN list_transform(embedding, x -> 0)
         |              ELSE list_transform(embedding, x ->
         |                CAST(greatest(-127.0, least(127.0,
         |                  floor(CAST(x AS DOUBLE) * 127.0 / ma + 0.5))) AS BIGINT)) END AS q,
         |         ma / 127.0 AS vscale,
         |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
         |                               CAST(embedding AS DOUBLE[]))) AS vnorm
         |  FROM base
         |), asg AS (
         |  SELECT vec_id, cent_id FROM (
         |    SELECT c.vec_id, s.cent_id,
         |           row_number() OVER (PARTITION BY c.vec_id ORDER BY
         |             list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
         |                                    CAST(s.cent_vec AS DOUBLE[])) DESC,
         |             s.cent_id ASC) AS rn
         |    FROM embeddings c CROSS JOIN seeds s) WHERE rn = 1
         |), qcells AS (
         |  SELECT qid, qlabel, cent_id FROM (
         |    SELECT q.vec_id AS qid, q.label AS qlabel, s.cent_id,
         |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |             list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
         |                                    CAST(s.cent_vec AS DOUBLE[])) DESC,
         |             s.cent_id ASC) AS rn
         |    FROM embeddings q CROSS JOIN seeds s) WHERE rn <= 4
         |), approx AS (
         |  SELECT qc.qid, a.vec_id,
         |         CASE WHEN ce.vnorm = 0 THEN 0.0
         |              ELSE ce.vscale * CAST(list_sum(list_transform(range(1, len(qe.q) + 1),
         |                     i -> qe.q[i] * ce.q[i])) AS DOUBLE) / ce.vnorm END AS qscore
         |  FROM qcells qc
         |  JOIN asg a USING (cent_id)
         |  JOIN enc ce ON ce.vec_id = a.vec_id
         |  JOIN enc qe ON qe.vec_id = qc.qid
         |  WHERE a.vec_id != qc.qid AND ce.label IS DISTINCT FROM qc.qlabel
         |), short AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id,
         |           row_number() OVER (PARTITION BY qid ORDER BY qscore DESC, vec_id ASC) AS rn
         |    FROM approx) WHERE rn <= 32
         |), rerank AS (
         |  SELECT s.qid, s.vec_id,
         |         list_cosine_similarity(CAST(qv.embedding AS DOUBLE[]),
         |                                CAST(cv.embedding AS DOUBLE[])) AS cos
         |  FROM short s JOIN embeddings qv ON qv.vec_id = s.qid
         |               JOIN embeddings cv ON cv.vec_id = s.vec_id
         |)
         |SELECT qid, CAST(rank AS INT) AS rank, vec_id, cos FROM (
         |  SELECT qid, vec_id, cos,
         |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rank
         |  FROM rerank) WHERE rank <= 3
         |ORDER BY qid, rank""".stripMargin)),

    // TRAINED quality classifier — the fastText-style gate beside the
    // Gopher rules: multinomial Naive Bayes over hashed token buckets
    // (the one linear-family trainer that is ONE counting pass). The
    // fixture's lang/source labels are uncorrelated with its text
    // (one shared vocabulary), so the query derives a LEARNABLE
    // quality label first (the q117/q133 derived-column trick):
    // doc_id%3==0 docs get spam-marker tokens appended and label 0,
    // the rest label 1 — the classifier must recover the signal from
    // TOKENS alone (it never sees doc_id). Trained on the even half,
    // scoring the WHOLE corpus (odd ids unseen). Every ln argument is
    // a positive integer → the bit-portable integer-ln series on both
    // engines; per-doc sums through exact DECIMAL(38,12); w and bias
    // expression trees mirrored left-associatively. keep = score > 0
    // = NB log-odds says clean.
    ("q136_quality_classifier", (s: SparkSession, d: String) => {
      val docs = spread(table(s, d, "documents"), "doc_id")
        .withColumn("text", when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" buy now click here free pills")))
          .otherwise(col("text")))
      val labeled = docs.where(col("doc_id") % 2 === 0)
        .withColumn("__y", col("doc_id") % 3 =!= 0)
      val (w, bias) = graft.ops.Relevance.nbClassifierModel(
        labeled, "text", "__y", buckets = 256)
      graft.ops.Relevance.linearScore(docs, "doc_id", "text", w, bias,
          buckets = 256)
        .orderBy("doc_id")
    }, Some {
      import graft.functions.PortableSketches.lnOfIntSql
      val b = 256
      def bkt(tok: String) = s"(('0x' || substr(md5($tok), 1, 8))::BIGINT % $b)"
      s"""WITH base AS (
         |  SELECT doc_id,
         |         CASE WHEN doc_id % 3 = 0
         |              THEN text || ' buy now click here free pills'
         |              ELSE text END AS text
         |  FROM documents
         |), ltok AS (
         |  SELECT (doc_id % 3 <> 0) AS y,
         |         unnest(list_transform(string_split_regex(trim(text), '\\s+'),
         |                               x -> lower(x))) AS tok
         |  FROM base WHERE doc_id % 2 = 0
         |), lbkt AS (
         |  SELECT y, ${bkt("tok")} AS bucket FROM ltok
         |), cnt AS (
         |  SELECT bucket,
         |         sum(CASE WHEN y THEN 1 ELSE 0 END) AS c1,
         |         sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS c0
         |  FROM lbkt GROUP BY bucket
         |), tot AS (
         |  SELECT sum(c1) AS ct1, sum(c0) AS ct0 FROM cnt
         |), dt AS (
         |  SELECT sum(CASE WHEN doc_id % 3 <> 0 THEN 1 ELSE 0 END) AS n1,
         |         sum(CASE WHEN NOT (doc_id % 3 <> 0) THEN 1 ELSE 0 END) AS n0
         |  FROM base WHERE doc_id % 2 = 0
         |), w AS (
         |  SELECT CAST(br.range AS BIGINT) AS bucket,
         |         (((${lnOfIntSql("(coalesce(c1, 0) + 1)")}
         |            - ${lnOfIntSql(s"(ct1 + $b)")})
         |           - ${lnOfIntSql("(coalesce(c0, 0) + 1)")})
         |          + ${lnOfIntSql(s"(ct0 + $b)")}) AS w
         |  FROM range(0, $b) br
         |  LEFT JOIN cnt ON cnt.bucket = br.range
         |  CROSS JOIN tot
         |), stok AS (
         |  SELECT doc_id,
         |         unnest(list_transform(string_split_regex(trim(text), '\\s+'),
         |                               x -> lower(x))) AS tok
         |  FROM base
         |), sbkt AS (
         |  SELECT doc_id, ${bkt("tok")} AS bucket FROM stok
         |), sc AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |         CAST(sum(CAST(w AS DECIMAL(38,12))) AS DOUBLE) AS sw
         |  FROM sbkt JOIN w USING (bucket)
         |  GROUP BY doc_id
         |)
         |SELECT doc_id, n_tokens,
         |       (sw + (${lnOfIntSql("(n1 + 1)")} - ${lnOfIntSql("(n0 + 1)")}))
         |         AS score,
         |       (sw + (${lnOfIntSql("(n1 + 1)")} - ${lnOfIntSql("(n0 + 1)")})) > 0.0
         |         AS keep
         |FROM sc CROSS JOIN dt ORDER BY doc_id""".stripMargin
    }),

    // First-fit-decreasing sequence packing — the batch-builder shape
    // that keeps documents WHOLE (q74 concat-and-chunks, splitting
    // docs across windows; FFD trades a little fill for zero
    // cross-document leakage). Deterministic greedy (len desc, id asc,
    // lowest-fitting bin) = a pure function of each shard's item set,
    // so DuckDB replays it exactly as a recursive CTE over per-shard
    // list state. Lengths derive doc_id%17 ⇒ ×4 so the oversize
    // (own-bin) branch is exercised on the gate.
    ("q137_ffd_packing", (s: SparkSession, d: String) => {
      val docs = spread(table(s, d, "documents"), "doc_id")
        .select(col("doc_id"),
          when(col("doc_id") % 17 === 0, col("n_chars") * 4)
            .otherwise(col("n_chars")).cast("long").as("len"))
      graft.ops.Packing.ffdPack(docs, "doc_id", "len",
          capacity = 1200L, numShards = 8)
        .orderBy("shard", "bin", "doc_id")
    }, Some(
      """WITH RECURSIVE base AS (
        |  SELECT doc_id,
        |         CAST(CASE WHEN doc_id % 17 = 0 THEN n_chars * 4
        |              ELSE n_chars END AS BIGINT) AS len
        |  FROM documents
        |), items AS (
        |  SELECT doc_id % 8 AS shard, doc_id, len,
        |         CAST(row_number() OVER (PARTITION BY doc_id % 8
        |                                 ORDER BY len DESC, doc_id ASC) AS BIGINT) AS pos
        |  FROM base
        |), pack AS (
        |  SELECT shard, CAST(0 AS BIGINT) AS pos, CAST(NULL AS BIGINT) AS doc_id,
        |         CAST(NULL AS BIGINT) AS len, CAST(NULL AS INT) AS bin,
        |         CAST([] AS BIGINT[]) AS fills
        |  FROM (SELECT DISTINCT shard FROM items)
        |  UNION ALL
        |  SELECT i.shard, i.pos, i.doc_id, i.len,
        |         CAST(coalesce(b.fit, len(p.fills) + 1) AS INT) AS bin,
        |         CASE WHEN b.fit IS NULL THEN list_append(p.fills, i.len)
        |              ELSE [CASE WHEN idx = b.fit THEN p.fills[idx] + i.len
        |                         ELSE p.fills[idx] END
        |                    FOR idx IN range(1, len(p.fills) + 1)] END AS fills
        |  FROM pack p
        |  JOIN items i ON i.shard = p.shard AND i.pos = p.pos + 1
        |  CROSS JOIN LATERAL (SELECT CASE WHEN i.len > 1200 THEN NULL
        |      ELSE list_min([idx FOR idx IN range(1, len(p.fills) + 1)
        |                     IF p.fills[idx] + i.len <= 1200]) END AS fit) b
        |)
        |SELECT shard, doc_id, len, bin, (len > 1200) AS oversize
        |FROM pack WHERE pos > 0 ORDER BY shard, bin, doc_id""".stripMargin)),

    // Diff-driven index maintenance ON THE GATE — corpusDiff composed
    // into the persisted signature index (q134 tells you WHAT changed;
    // this absorbs it): build the index from the old snapshot, sync
    // against the q134-derived new snapshot, REQUIRE the sig table
    // grew by exactly the added-row count (append-only contract:
    // changed/removed are reported, never absorbed — they are the
    // rebuild signal), and return the drift report. The oracle states
    // the same report off the snapshots directly; the probe-level
    // sync ≡ rebuild equivalence lives in SignatureIndexSpec.
    ("q138_index_sync", (s: SparkSession, d: String) => {
      val tag = Integer.toHexString(d.hashCode)
      val (bt, st) = (s"q138_buckets_$tag", s"q138_sigs_$tag")
      Seq(bt, st).foreach { t =>
        s.sql(s"DROP TABLE IF EXISTS $t")
        val loc = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), t)
        val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(loc)) fs.delete(loc, true)
      }
      val docs = table(s, d, "documents").select(col("doc_id"), col("text"))
      val survivors = docs.where(col("doc_id") % 11 =!= 0)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" changed!"))).otherwise(col("text")))
      val added = docs.where(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 1000000000L).as("doc_id"), col("text"))
      val newSnap = survivors.unionAll(added)
      Dedup.writeSignatureIndex(docs, "doc_id", "text", bt, st,
        shingleN = 3, numBuckets = 8)
      val before = s.table(st).count()
      val report = Dedup.syncSignatureIndex(docs, newSnap, "doc_id", "text",
        bt, st, shingleN = 3, numBuckets = 8)
      val grown = s.table(st).count() - before
      val nAdded = added.count()
      require(grown == nAdded,
        s"sync must append exactly the added slice: grew $grown, added $nAdded")
      report.withColumn("n_docs", col("n_docs").cast("long"))
        .orderBy("status")
    }, Some(
      """WITH oldt AS (
        |  SELECT doc_id, text FROM documents
        |), newt AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 7 = 0 THEN text || ' changed!'
        |              ELSE text END AS text
        |  FROM documents WHERE doc_id % 11 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000000, text FROM documents WHERE doc_id % 13 = 0
        |)
        |SELECT CASE WHEN o.doc_id IS NULL THEN 'added'
        |            WHEN n.doc_id IS NULL THEN 'removed'
        |            ELSE 'changed' END AS status,
        |       CAST(count(*) AS BIGINT) AS n_docs
        |FROM oldt o FULL JOIN newt n ON o.doc_id = n.doc_id
        |WHERE o.doc_id IS NULL OR n.doc_id IS NULL
        |   OR o.text IS DISTINCT FROM n.text
        |GROUP BY 1 ORDER BY status""".stripMargin)),

    // Near-dup collapse keeping the BEST member — the quality-aware
    // upgrade of q84's min-id policy (the canonical copy of a
    // duplicate cluster should be its best member, not the first one
    // crawled): per cluster, keep argmax type-token ratio (the
    // portable repetition-penalty quality proxy), ties to the smaller
    // id. Composes q84's CC machinery with a q136-style score; the
    // oracle is q84's recursive cluster closure + a per-cluster
    // row_number argmax. TTR is one exact IEEE division per doc on
    // both engines, so keep decisions replay bit-exactly.
    ("q141_dedup_keep_best", (s: SparkSession, d: String) => {
      val docs = table(s, d, "documents")
      val scored = docs
        .withColumn("__ts", TextOps.lowerTokens(col("text")))
        .withColumn("ttr", size(array_distinct(col("__ts"))).cast("double") /
          size(col("__ts")).cast("double"))
        .drop("__ts")
      val pairs = Dedup.minhashJaccardPairs(docs, "doc_id", "text",
        shingleN = 3, threshold = 0.7)
      Dedup.keepBestRepresentatives(scored, "doc_id", "ttr", pairs)
        .select(col("doc_id"), col("ttr"), col("source"))
        .orderBy("doc_id")
    }, Some(
      s"""WITH RECURSIVE ${CatalogML.clusterCteSql()},
         |lab AS (SELECT id, min(lbl) AS cluster FROM reach GROUP BY id),
         |t AS (
         |  SELECT doc_id, source,
         |         CAST(len(list_distinct(list_transform(
         |                string_split_regex(trim(text), '\\s+'), x -> lower(x)))) AS DOUBLE)
         |         / CAST(len(list_transform(
         |                string_split_regex(trim(text), '\\s+'), x -> lower(x))) AS DOUBLE)
         |           AS ttr
         |  FROM documents
         |), best AS (
         |  SELECT id FROM (
         |    SELECT lab.id,
         |           row_number() OVER (PARTITION BY lab.cluster
         |                              ORDER BY t.ttr DESC, lab.id ASC) AS rn
         |    FROM lab JOIN t ON t.doc_id = lab.id) WHERE rn = 1
         |), dr AS (
         |  SELECT lab.id FROM lab LEFT JOIN best ON lab.id = best.id
         |  WHERE best.id IS NULL
         |)
         |SELECT t.doc_id, t.ttr, t.source
         |FROM t LEFT JOIN dr ON t.doc_id = dr.id
         |WHERE dr.id IS NULL
         |ORDER BY t.doc_id""".stripMargin)),

    // WITHIN-document repetition removal — the rewrite complement of
    // q117's duplicate-line FILTERS and q92's cross-doc boilerplate
    // strip: keep the FIRST occurrence of every non-blank line inside
    // each document, original order, zero shuffle (row-local
    // order-preserving array_distinct). The fixture is single-line, so
    // the query derives repetition shapes first (q117's trick):
    // doc_id%3==1 → every token its own line (the word soup repeats
    // words, so keep-first ORDER is exercised hard), %3==2 → the whole
    // doc duplicated as a second line (exactly one removal), else
    // untouched. The oracle replays keep-first with DuckDB's indexed
    // list lambda: list_position(l, x) = i keeps exactly the first
    // occurrence.
    ("q142_text_dedup_lines_intra", (s: SparkSession, d: String) => {
      val docs = spread(table(s, d, "documents"), "doc_id")
      val m3 = col("doc_id") % 3
      val structured = docs.withColumn("text",
        when(m3 === 1, call_function("replace", col("text"), lit(" "), lit("\n")))
          .when(m3 === 2, concat(col("text"), lit("\n"), col("text")))
          .otherwise(col("text")))
      TextOps.removeRepeatedLines(structured, "doc_id", "text")
        .orderBy("doc_id")
    }, Some(
      """WITH base AS (
        |  SELECT doc_id,
        |         CASE CAST(doc_id % 3 AS INT)
        |           WHEN 1 THEN replace(text, ' ', chr(10))
        |           WHEN 2 THEN text || chr(10) || text
        |           ELSE text END AS text
        |  FROM documents
        |), l AS (
        |  SELECT doc_id,
        |         list_filter(string_split(text, chr(10)),
        |                     x -> len(trim(x)) > 0) AS lines
        |  FROM base
        |), k AS (
        |  SELECT doc_id, lines,
        |         list_filter(lines, (x, i) -> list_position(lines, x) = i) AS kept
        |  FROM l
        |)
        |SELECT doc_id,
        |       coalesce(array_to_string(kept, chr(10)), '') AS clean_text,
        |       CAST(len(kept) AS BIGINT) AS n_kept,
        |       CAST(len(lines) - len(kept) AS BIGINT) AS n_removed
        |FROM k ORDER BY doc_id""".stripMargin)),

    // HTML → text extraction — the step before every quality/dedup
    // pass when the corpus arrives as crawled markup. The fixture is
    // plain word soup, so the query derives pages first (q117's
    // trick): doc_id%4==1 → a full page (title, a style block whose
    // CSS must vanish, one word per <p>, a script whose body contains
    // a bare `<` that must never reach the tag regex), %4==2 →
    // entity-laden text (incl. `&lt;tag&gt;`, which must decode to
    // LITERAL "<tag>" text because decoding runs after tag
    // stripping), %4==3 → a comment wrapping markup + <br> +
    // &nbsp;, else untouched plain text. The oracle replays the
    // identical RE2 chain via TextOps.htmlToTextSql.
    ("q143_text_html_extract", (s: SparkSession, d: String) => {
      val m4 = col("doc_id") % 4
      val page = when(m4 === 1, concat(
          lit("<html><head><title>T</title><style type=\"text/css\">" +
            "p{color:red}</style></head><body><p>"),
          call_function("replace", col("text"), lit(" "), lit("</p><p>")),
          lit("</p><script>if(1<2){x=1;}</script></body></html>")))
        .when(m4 === 2, concat(
          call_function("replace", col("text"), lit(" "), lit("&nbsp;")),
          lit(" &lt;tag&gt; &amp; &quot;q&quot; &#39;")))
        .when(m4 === 3, concat(
          col("text"), lit("<!-- hidden <b>secret</b> -->"),
          lit("<br>NEXT&nbsp;LINE")))
        .otherwise(col("text"))
      spread(table(s, d, "documents"), "doc_id")
        .select(col("doc_id"), page.as("__html"))
        .select(col("doc_id"),
          length(col("__html")).cast("long").as("n_chars_html"),
          TextOps.htmlToText(col("__html")).as("clean_text"))
        .withColumn("n_chars_clean", length(col("clean_text")).cast("long"))
        .orderBy("doc_id")
    }, Some {
      // NOTE: the enclosing template applies stripMargin AFTER this
      // fragment is interpolated, so no continuation line here may
      // start with '|' (a leading '||' loses its first pipe) — string
      // concatenation operators therefore trail the line
      val page =
        """CASE CAST(doc_id % 4 AS INT)
          |  WHEN 1 THEN '<html><head><title>T</title><style type="text/css">p{color:red}</style></head><body><p>' ||
          |    replace(text, ' ', '</p><p>') ||
          |    '</p><script>if(1<2){x=1;}</script></body></html>'
          |  WHEN 2 THEN replace(text, ' ', '&nbsp;') ||
          |    ' &lt;tag&gt; &amp; &quot;q&quot; &#39;'
          |  WHEN 3 THEN text || '<!-- hidden <b>secret</b> -->' ||
          |    '<br>NEXT&nbsp;LINE'
          |  ELSE text END""".stripMargin
      s"""WITH b AS (
         |  SELECT doc_id, $page AS html FROM documents
         |)
         |SELECT doc_id,
         |       CAST(len(html) AS BIGINT) AS n_chars_html,
         |       ${TextOps.htmlToTextSql("html")} AS clean_text,
         |       CAST(len(${TextOps.htmlToTextSql("html")}) AS BIGINT)
         |         AS n_chars_clean
         |FROM b ORDER BY doc_id""".stripMargin
    }),

    // EXACT grouped quantiles without a global sort — the p50/p90/p99
    // doc-length-per-language numbers every corpus report quotes,
    // computed by counting, not sorting: corpus → (lang, value) count
    // table → group-partitioned running count → smallest value whose
    // cumulative count reaches ceil(n·p/100). Rank arithmetic is
    // integer-only on both engines (no double rounding class); the 1
    // and 100 percents pin the min/max edges. DuckDB replays the
    // identical CDF logic (its own quantile_disc is deliberately NOT
    // used — the oracle should prove the arithmetic, not an engine's
    // interpolation convention).
    ("q144_profile_quantiles", (s: SparkSession, d: String) => {
      graft.ops.Profile.exactQuantilesBy(
        spread(table(s, d, "documents"), "doc_id"),
        "lang", "n_chars", Seq(1, 10, 25, 50, 75, 90, 99, 100))
        .orderBy("lang", "pct")
    }, Some(
      """WITH c AS (
        |  SELECT lang, CAST(n_chars AS BIGINT) AS v, COUNT(*) AS cnt
        |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2
        |), cum AS (
        |  SELECT lang, v,
        |         SUM(cnt) OVER (PARTITION BY lang ORDER BY v) AS cum,
        |         SUM(cnt) OVER (PARTITION BY lang) AS n
        |  FROM c
        |), p AS (SELECT unnest([1, 10, 25, 50, 75, 90, 99, 100]) AS pct)
        |SELECT lang, pct, MIN(v) AS value,
        |       CAST(MIN(n) AS BIGINT) AS n_values
        |FROM cum, p
        |WHERE cum >= (n * pct + 99) // 100
        |GROUP BY lang, pct
        |ORDER BY lang, pct""".stripMargin)),

    // Sentence-aware chunking — the RAG shape q111's fixed windows are
    // not: sentences pack in reading order into ≤80-char chunks, never
    // splitting a sentence (one compiled SentencePack node per doc).
    // The fixture is unpunctuated word soup, so the query derives
    // sentences first: every 7th word gets a terminal mark, rotating
    // . ! ? so the whole split class is exercised. The oracle replays
    // the greedy boundary as a recursive CTE over (doc, sentence idx)
    // running-length state — q137's oracle pattern, order-preserving
    // variant.
    ("q146_text_chunk_sentences", (s: SparkSession, d: String) => {
      val ts = split(col("text"), " ")
      val sentText = concat_ws(" ", transform(ts, (w, i) => {
        val pos = i + lit(1)
        val j = (pos.cast("double") / lit(7.0)).cast("int")
        val mark = when(pos % 7 === 0,
            when(j % 3 === 1, lit(".")).when(j % 3 === 2, lit("!"))
              .otherwise(lit("?")))
          .otherwise(lit(""))
        concat(w, mark)
      }))
      val docs = spread(table(s, d, "documents"), "doc_id")
        .select(col("doc_id"), sentText.as("text"))
      TextOps.chunkSentences(docs, "doc_id", "text", maxChars = 80)
        .orderBy("doc_id", "chunk_id")
    }, Some(
      """WITH RECURSIVE sent AS (
        |  SELECT doc_id,
        |         regexp_replace(
        |           array_to_string(list_transform(string_split(text, ' '),
        |             (w, i) -> CASE WHEN i % 7 = 0 THEN w ||
        |                  CASE ((i // 7) % 3) WHEN 1 THEN '.'
        |                       WHEN 2 THEN '!' ELSE '?' END
        |                ELSE w END), ' '),
        |           '([.!?])[ \t]+', '\1' || chr(1), 'g') AS marked
        |  FROM documents
        |), sl0 AS (
        |  SELECT doc_id, u.sent AS sent, u.idx AS idx FROM (
        |    SELECT doc_id, string_split(marked, chr(1)) AS arr FROM sent
        |  ), UNNEST([{'sent': arr[i], 'idx': i}
        |             FOR i IN range(1, len(arr) + 1)]) AS t(u)
        |), sl AS (
        |  SELECT doc_id, sent,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY idx) AS idx,
        |         len(sent) AS l
        |  FROM sl0 WHERE len(trim(sent)) > 0
        |), rec AS (
        |  SELECT doc_id, idx, 1 AS chunk_id, l AS cur FROM sl WHERE idx = 1
        |  UNION ALL
        |  SELECT s.doc_id, s.idx,
        |         CASE WHEN r.cur + 1 + s.l <= 80
        |              THEN r.chunk_id ELSE r.chunk_id + 1 END,
        |         CASE WHEN r.cur + 1 + s.l <= 80
        |              THEN r.cur + 1 + s.l ELSE s.l END
        |  FROM rec r JOIN sl s ON s.doc_id = r.doc_id AND s.idx = r.idx + 1
        |)
        |SELECT r.doc_id, CAST(r.chunk_id - 1 AS INT) AS chunk_id,
        |       string_agg(s.sent, ' ' ORDER BY s.idx) AS chunk,
        |       CAST(len(string_agg(s.sent, ' ' ORDER BY s.idx)) AS BIGINT)
        |         AS n_chars
        |FROM rec r JOIN sl s USING (doc_id, idx)
        |GROUP BY r.doc_id, r.chunk_id
        |ORDER BY doc_id, chunk_id""".stripMargin)),

    // Source-format breadth: the documents table rides a full
    // write→read ROUND TRIP through JSON Lines and CSV (explicit
    // schemas both ways — schema inference at 100 TB is a second full
    // scan), then one aggregate per (format, lang) whose counts, sums,
    // and content digests must match the parquet truth. The oracle IS
    // the losslessness claim: DuckDB computes the same aggregate from
    // the parquet table alone, crossed with the two format labels — so
    // a single corrupted char, dropped row, or mis-quoted field in
    // either format pass fails the hash. The CSV leg sets the options
    // general crawl text NEEDS to round-trip — edge whitespace
    // preserved on read (Spark's CSV reader trims it by default) and
    // multiLine for quoted embedded newlines — even though THIS
    // fixture's word-soup text is CSV-trivial (no quotes / commas /
    // newlines / edge spaces, verified): the contract is set for the
    // general case, the fixture proves the trivial one. Scratch output
    // is pid-keyed and shutdown-deleted (q131's convention).
    ("q148_source_roundtrip", (s: SparkSession, d: String) => {
      val docs = spread(table(s, d, "documents"), "doc_id")
        .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
      val root = graft.ops.LocalFiles.processScratchDir("roundtrip") +
        "/" + Integer.toHexString(d.hashCode)
      docs.write.mode("overwrite").json(s"$root/json")
      docs.write.mode("overwrite")
        .option("header", "true").csv(s"$root/csv")
      val j = s.read.schema(docs.schema).json(s"$root/json")
        .withColumn("fmt", lit("json"))
      val c = s.read.option("header", "true").schema(docs.schema)
        .option("multiLine", "true")
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .csv(s"$root/csv")
        .withColumn("fmt", lit("csv"))
      j.unionAll(c)
        .groupBy("fmt", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(length(col("text"))).as("sum_text_chars"),
          countDistinct(md5(col("text"))).as("n_distinct_texts"))
        .orderBy("fmt", "lang")
    }, Some(
      """SELECT fmt, lang,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       CAST(sum(len(text)) AS BIGINT) AS sum_text_chars,
        |       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts
        |FROM documents, (SELECT unnest(['csv', 'json']) AS fmt)
        |GROUP BY fmt, lang
        |ORDER BY fmt, lang""".stripMargin)),

    // Time-series gap-fill with LOCF — per-user hourly grid over the
    // events stream: real event data has holes, and a per-interval
    // aggregate silently SKIPS empty hours; a rate chart / anomaly
    // baseline needs them as explicit zero/carried-forward rows. All
    // arithmetic integral (epoch-hour buckets, floor-cents values —
    // q124's portability trick), so the grid, the gaps, and the
    // carried values replay bit-exactly: DuckDB's generate_series +
    // IGNORE NULLS window is the verbatim twin.
    ("q149_timeseries_gapfill", (s: SparkSession, d: String) => {
      val events = table(s, d, "events")
      graft.ops.TimeSeries.gapFillLocf(
          events, "user_id",
          bucket = floor(col("ts").cast("timestamp").cast("double") / 3600),
          value = floor(col("value") * 100))
        .orderBy("user_id", "bucket")
    }, Some(
      """WITH a AS (
        |  SELECT user_id,
        |         CAST(floor(epoch(ts) / 3600) AS BIGINT) AS bucket,
        |         CAST(count(*) AS BIGINT) AS n_events,
        |         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
        |           AS bucket_value
        |  FROM events GROUP BY 1, 2
        |), s AS (
        |  SELECT user_id, min(bucket) AS lo, max(bucket) AS hi
        |  FROM a GROUP BY 1
        |), g AS (
        |  SELECT user_id,
        |         CAST(unnest(generate_series(lo, hi)) AS BIGINT) AS bucket
        |  FROM s
        |)
        |SELECT g.user_id, g.bucket,
        |       coalesce(a.n_events, 0) AS n_events,
        |       a.bucket_value,
        |       a.n_events IS NULL AS is_gap,
        |       last_value(a.bucket_value IGNORE NULLS) OVER (
        |         PARTITION BY g.user_id ORDER BY g.bucket
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS locf_value
        |FROM g LEFT JOIN a USING (user_id, bucket)
        |ORDER BY user_id, bucket""".stripMargin)),

    // IVF through the COARSE-QUANTIZER TREE — closes the one scaling
    // envelope the q135 row documents: the flat probe scores all nlist
    // centroids per row, so with nlist grown alongside the corpus
    // (the cells-stay-task-sized rule) the probe stage is N·nlist.
    // The tree scores ntop coarse cells, keeps wprobe, and scores only
    // their fine members — O(ntop + wprobe·nlist/ntop) per row — on
    // BOTH sides (corpus assignment and query probe), the standard
    // hierarchical-IVF approximation. Every stage uses the portable
    // md5 pick rule, so DuckDB replays the whole tree verbatim:
    // seeds → coarse picks → fine-to-coarse groups → per-row coarse
    // top-2 → fine argmax/top-4 within the visible groups → in-cell
    // exact cosine top-k. wprobe = ntop would reproduce q46 exactly
    // (spec-pinned); wprobe=2 here exercises the real approximation.
    ("q145_ann_ivf_tree", (s: SparkSession, d: String) => {
      val emb = table(s, d, "embeddings")
      graft.ops.Similarity.ivfTopKTwoLevel(
          emb, "vec_id", "embedding",
          emb.where(col("vec_id") < 20)
            .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          "qid", "qvec", k = 5, nlist = 16, ntop = 4, wprobe = 2,
          nprobe = 4, portableSeeds = true)
        .orderBy("qid", "rank")
    }, Some(
      """WITH seeds AS (
        |  SELECT vec_id AS cent_id, embedding AS cent_vec
        |  FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC
        |  LIMIT 16
        |), coarse AS (
        |  SELECT cent_id AS top_id, cent_vec AS top_vec
        |  FROM seeds ORDER BY md5(CAST(cent_id AS VARCHAR)) ASC, cent_id ASC
        |  LIMIT 4
        |), fgrp AS (
        |  SELECT cent_id, cent_vec, top_id FROM (
        |    SELECT s.cent_id, s.cent_vec, c.top_id,
        |           row_number() OVER (PARTITION BY s.cent_id ORDER BY
        |             list_cosine_similarity(CAST(s.cent_vec AS DOUBLE[]),
        |                                    CAST(c.top_vec AS DOUBLE[])) DESC,
        |             c.top_id ASC) AS rn
        |    FROM seeds s CROSS JOIN coarse c) WHERE rn = 1
        |), ctop AS (
        |  SELECT vec_id, embedding, top_id FROM (
        |    SELECT e.vec_id, e.embedding, c.top_id,
        |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                    CAST(c.top_vec AS DOUBLE[])) DESC,
        |             c.top_id ASC) AS rn
        |    FROM embeddings e CROSS JOIN coarse c) WHERE rn <= 2
        |), asg AS (
        |  SELECT vec_id, embedding, cent_id FROM (
        |    SELECT t.vec_id, t.embedding, f.cent_id,
        |           row_number() OVER (PARTITION BY t.vec_id ORDER BY
        |             list_cosine_similarity(CAST(t.embedding AS DOUBLE[]),
        |                                    CAST(f.cent_vec AS DOUBLE[])) DESC,
        |             f.cent_id ASC) AS rn
        |    FROM ctop t JOIN fgrp f ON f.top_id = t.top_id) WHERE rn = 1
        |), qtop AS (
        |  SELECT qid, qvec, top_id FROM (
        |    SELECT q.vec_id AS qid, q.embedding AS qvec, c.top_id,
        |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |             list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                                    CAST(c.top_vec AS DOUBLE[])) DESC,
        |             c.top_id ASC) AS rn
        |    FROM embeddings q CROSS JOIN coarse c WHERE q.vec_id < 20)
        |  WHERE rn <= 2
        |), qcells AS (
        |  SELECT qid, qvec, cent_id FROM (
        |    SELECT t.qid, t.qvec, f.cent_id,
        |           row_number() OVER (PARTITION BY t.qid ORDER BY
        |             list_cosine_similarity(CAST(t.qvec AS DOUBLE[]),
        |                                    CAST(f.cent_vec AS DOUBLE[])) DESC,
        |             f.cent_id ASC) AS rn
        |    FROM qtop t JOIN fgrp f ON f.top_id = t.top_id) WHERE rn <= 4
        |), scored AS (
        |  SELECT qc.qid, a.vec_id,
        |         list_cosine_similarity(CAST(qc.qvec AS DOUBLE[]),
        |                                CAST(a.embedding AS DOUBLE[])) AS cos
        |  FROM qcells qc JOIN asg a USING (cent_id)
        |  WHERE qc.qid != a.vec_id
        |)
        |SELECT qid, CAST(rank AS INT) AS rank, vec_id, cos FROM (
        |  SELECT qid, vec_id, cos,
        |         row_number() OVER (PARTITION BY qid
        |                            ORDER BY cos DESC, vec_id ASC) AS rank
        |  FROM scored)
        |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin)),

    // BPE encode at BYTE level — q116 gates the compiled encoder's
    // token COUNTS; this gates the full ENCODED STRING (marker
    // placement included) against DuckDB's replace chain, so any
    // divergence in the compiled node's pass/glue/boundary handling is
    // caught at the first differing byte, not only when it changes a
    // count. Same pinned table; U+0001 markers ride the parquet dump
    // and the hash canonicalization as ordinary string bytes.
    ("q140_bpe_encode_text", (s: SparkSession, d: String) => {
      val docs = spread(table(s, d, "documents"), "doc_id")
      docs.select(col("doc_id"),
          TextOps.bpeEncodeCompiled(col("text"), Q116Merges).as("encoded"))
        .orderBy("doc_id")
    }, Some {
      val s0 = """regexp_replace(trim(lower(text)), '(\S)', chr(1) || '\1', 'g')"""
      val chain = Q116Merges.foldLeft("s") { case (acc, (l, r)) =>
        s"replace($acc, chr(1) || '$l' || chr(1) || '$r', chr(1) || '$l$r')"
      }
      s"""WITH s0 AS (
         |  SELECT doc_id, $s0 AS s FROM documents
         |)
         |SELECT doc_id, $chain AS encoded
         |FROM s0 ORDER BY doc_id""".stripMargin
    }),

    // OPTIMIZE-table composition ON THE GATE (the q131 staging + the
    // q79/q121 layout levers in ONE rewrite): stage documents as a
    // 64-file sliver layout, run Layout.optimizeTable — compact to
    // data-sized files AND Z-order-cluster by (n_chars, doc_id%1024)
    // AND attach a doc_id bloom, one read + one write — then REQUIRE
    // the collapse, the bloom footers, and the Z-clustering
    // (per-file z ranges disjoint by repartitionByRange), and return
    // the content. The oracle is the table itself: maintenance must be
    // lossless; the three layout REQUIREs are the evidence content
    // alone cannot carry.
    ("q139_optimize_table", (s: SparkSession, d: String) => {
      import scala.jdk.CollectionConverters._
      val base = new java.io.File(
        graft.ops.LocalFiles.processScratchDir("optimize-q139"),
        Integer.toHexString(d.hashCode))
      val sliver = new java.io.File(base, "sliver").toString
      val out = new java.io.File(base, "optimized").toString
      table(s, d, "documents").repartition(64)
        .write.mode("overwrite").parquet(sliver)
      val srcPath = new org.apache.hadoop.fs.Path(sliver)
      val bytes = srcPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        .getContentSummary(srcPath).getLength
      val (nb, _, na, _) = graft.ops.Layout.optimizeTable(s, sliver, out,
        col("n_chars").cast("long"), pmod(col("doc_id"), lit(1024L)),
        bloomCols = Seq("doc_id"),
        targetFileBytes = math.max(1L, bytes / 4), expectedNdv = 100000L)
      require(nb == 64 && na <= 5,
        s"optimize left $na of $nb files — the sliver layout survived")
      val parts = new java.io.File(out).listFiles()
        .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
      parts.foreach { part =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(part.getAbsolutePath),
          s.sparkContext.hadoopConfiguration)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try reader.getFooter.getBlocks.asScala.foreach { b =>
          val c = b.getColumns.asScala
            .find(_.getPath.toDotString == "doc_id").get
          require(c.getBloomFilterOffset >= 0,
            s"bloom filter missing on doc_id in ${part.getName}")
        } finally reader.close()
      }
      // Z-clustering evidence: per-FILE z ranges must be disjoint
      // (repartitionByRange on the z key guarantees it; reading each
      // file alone observes it)
      val zr = parts.toSeq.map { part =>
        s.read.parquet(part.getAbsolutePath)
          .select(graft.ops.Layout.zValue(col("n_chars").cast("long"),
            pmod(col("doc_id"), lit(1024L))).as("z"))
          .agg(min(col("z")), max(col("z"))).head()
      }.map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      zr.sliding(2).foreach {
        case Seq((_, aMax), (bMin, _)) =>
          require(aMax <= bMin, s"z ranges overlap across files: $zr")
        case _ => ()
      }
      s.read.parquet(out)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
        .orderBy("doc_id")
    }, Some(
      """SELECT doc_id, text, lang, source, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin))
  )
}
