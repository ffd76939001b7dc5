package graft

/** SQL fragments that several DuckDB oracles in the [[Queries]] catalog
  * share: CTE chains replicating an operator's training or scoring
  * rounds, and literal helpers. Each oracle composes its SQL from these
  * and its own text. */
private[graft] object OracleSql {

  /** Words as a SQL list literal, with `''` doubling — a word
    * containing an apostrophe (don't, it's) must not terminate the
    * string literal early. */
  def sqlStringList(ws: Seq[String]): String =
    ws.map(w => s"'${w.replace("'", "''")}'").mkString("[", ", ", "]")

  /** Shared CTE prefix replicating [[graft.operators.SimilarityOps
    * .kmeansTrain]] (cells = 16, iters = 2) in DuckDB: deterministic
    * first-16-by-id init (cb0), then two unrolled Lloyd rounds — argmax
    * cosine assignment (ties → smaller cell) and per-(cell, dim) means
    * rounded to 6 dp with -0.0 normalized, exactly as the Spark side
    * rounds between iterations. A cell that loses all members carries
    * its previous centroid (the UNION ALL arms). Ends at `cb2`, the
    * trained codebook q40/q88/q101 consume. */
  val lloyd2cb16: String =
    """WITH v AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv
      |  FROM embeddings),
      |cb0 AS (
      |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
      |      AS cell,
      |    CAST(embedding AS DOUBLE[]) AS cv
      |  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)),
      |asn0 AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT v.vec_id, cb0.cell, row_number() OVER (
      |      PARTITION BY v.vec_id
      |      ORDER BY list_cosine_similarity(vv, cv) DESC, cell) AS rn
      |    FROM v CROSS JOIN cb0) WHERE rn = 1),
      |mm0 AS (
      |  SELECT cell, dim, round(avg(x), 6) + 0 AS mx FROM (
      |    SELECT asn0.cell,
      |      CAST(generate_subscripts(v.vv, 1) - 1 AS INT) AS dim,
      |      unnest(v.vv) AS x
      |    FROM asn0 JOIN v USING (vec_id))
      |  GROUP BY cell, dim),
      |cb1 AS (
      |  SELECT cell, list(mx ORDER BY dim) AS cv FROM mm0 GROUP BY cell
      |  UNION ALL
      |  SELECT cell, cv FROM cb0
      |  WHERE cell NOT IN (SELECT cell FROM mm0)),
      |asn1 AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT v.vec_id, cb1.cell, row_number() OVER (
      |      PARTITION BY v.vec_id
      |      ORDER BY list_cosine_similarity(vv, cv) DESC, cell) AS rn
      |    FROM v CROSS JOIN cb1) WHERE rn = 1),
      |mm1 AS (
      |  SELECT cell, dim, round(avg(x), 6) + 0 AS mx FROM (
      |    SELECT asn1.cell,
      |      CAST(generate_subscripts(v.vv, 1) - 1 AS INT) AS dim,
      |      unnest(v.vv) AS x
      |    FROM asn1 JOIN v USING (vec_id))
      |  GROUP BY cell, dim),
      |cb2 AS (
      |  SELECT cell, list(mx ORDER BY dim) AS cv FROM mm1 GROUP BY cell
      |  UNION ALL
      |  SELECT cell, cv FROM cb1
      |  WHERE cell NOT IN (SELECT cell FROM mm1))""".stripMargin

  /** Per-document (doc_id, quality, n_tokens) — the DuckDB mirror of
    * TextFunctions.qualityScore (4 dp) + whitespace tokenCount, shared
    * by the selection oracles (q107). */
  val docQualityTokens: String =
    """doc AS (
      |  SELECT doc_id,
      |    round(
      |      (least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
      |       * (1.0 - least(
      |           (CAST(len(regexp_extract_all(text, '[[:punct:]]'))
      |              AS DOUBLE)
      |            / greatest(CAST(length(text) AS DOUBLE), 1.0))
      |           * 4.0, 1.0) * 0.5))
      |      * sqrt(
      |          CAST(len(list_distinct(CASE WHEN trim(text) = ''
      |            THEN [] ELSE string_split_regex(
      |              trim(lower(text)), '\s+') END)) AS DOUBLE)
      |          / greatest(CAST(CASE WHEN trim(text) = '' THEN 0
      |            ELSE len(string_split_regex(trim(text), '\s+'))
      |            END AS DOUBLE), 1.0)), 4) AS quality,
      |    CAST(CASE WHEN trim(text) = '' THEN 0
      |      ELSE len(string_split_regex(trim(text), '\s+'))
      |      END AS BIGINT) AS n_tokens
      |  FROM documents)""".stripMargin

  /** Winnowing pipeline (q109/q110): per-token md5 values, Karp-Rabin
    * 3-gram polynomial mod the 31-bit prime, distinct window-4 minima
    * — bit-for-bit the arithmetic of operators.Winnowing. Ends at
    * `fp(doc_id, fp)`. */
  val winnowFp: String =
    """WITH v AS (
      |  SELECT doc_id, list_transform(CASE WHEN trim(text) = '' THEN []
      |    ELSE string_split_regex(trim(lower(text)), '\s+') END,
      |    t -> CAST(concat('0x', substring(md5(t), 1, 8)) AS BIGINT)
      |      % 2147483587) AS tv
      |  FROM documents),
      |kh AS (
      |  SELECT doc_id, CASE WHEN len(tv) < 3 THEN []
      |    ELSE list_transform(range(1, len(tv) - 1),
      |      i -> (tv[i]*131*131 + tv[i+1]*131 + tv[i+2]) % 2147483587)
      |    END AS kh
      |  FROM v),
      |fp AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(1, greatest(len(kh) - 4, 0) + 2),
      |    j -> list_min(kh[j:j+3])))) AS fp
      |  FROM kh WHERE len(kh) > 0)""".stripMargin

  /** Unrolled BPE merge training (q111/q112): `steps` iterations of
    * weighted pair counting over the word vocab, deterministic argmax
    * (count desc, pair asc), and boundary-spaced replace — the same
    * left-to-right non-overlapping merge the Spark side applies.
    * Returns the WITH-chain up to vN; callers append their final
    * SELECT over tN (merge rows) or vN (the trained vocab). */
  def bpeChain(steps: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH v0 AS (
      |  SELECT word, CAST(count(*) AS BIGINT) AS n,
      |    ' ' || regexp_replace(word, '(.)', '\1  ', 'g') || '</w> '
      |      AS sym
      |  FROM (SELECT unnest(CASE WHEN trim(text) = '' THEN []
      |      ELSE string_split_regex(trim(lower(text)), '\s+') END)
      |      AS word FROM documents)
      |  GROUP BY word)""".stripMargin
    for (s <- 1 to steps) {
      sb ++= s""",
      |p$s AS (
      |  SELECT pr[1] AS l, pr[2] AS r, CAST(sum(n) AS BIGINT) AS cnt
      |  FROM (SELECT n, unnest(list_transform(range(1, len(sy)),
      |      i -> [sy[i], sy[i+1]])) AS pr
      |    FROM (SELECT n, string_split_regex(trim(sym), ' +') AS sy
      |      FROM v${s - 1}))
      |  GROUP BY 1, 2),
      |t$s AS (SELECT l, r, cnt FROM p$s ORDER BY cnt DESC, l, r
      |  LIMIT 1),
      |v$s AS (
      |  SELECT word, n,
      |    replace(sym, ' '||l||'  '||r||' ', ' '||l||r||' ') AS sym
      |  FROM v${s - 1} CROSS JOIN t$s)""".stripMargin
    }
    sb.result()
  }

  /** PQ oracle (q115): per subspace j — init codebook from the first
    * `cells` vectors' slices, one L2 Lloyd round (argmin ties → smaller
    * cell, means rounded 6 dp, empty cells carry), then final codes +
    * per-subspace min distances; recon_mse averages over all dims.
    * Mirrors [[graft.operators.SimilarityOps.pqEncode]] exactly. */
  def pqD2(sub: Int)(sv: String, cv: String): String =
    s"list_sum(list_transform(range(1, ${sub + 1}), " +
      s"i -> ($sv[i]-$cv[i])*($sv[i]-$cv[i])))"

  /** The per-subspace CTE chain shared by the PQ oracles (assumes a
    * `v(vec_id, vv)` CTE is already in scope): init codebook c{j}_0,
    * one L2 Lloyd round (a{j}, m{j}, c{j}_1), final codes + min
    * distances f{j}. */
  def pqChainsBody(m: Int, sub: Int, cells: Int): String = {
    val d2 = pqD2(sub) _
    val chains = (0 until m).map { j =>
      val lo = j * sub + 1
      val hi = (j + 1) * sub
      s"""s$j AS (SELECT vec_id, vv[$lo:$hi] AS sv FROM v),
        |c${j}_0 AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
        |      AS cell,
        |    (CAST(embedding AS DOUBLE[]))[$lo:$hi] AS cv
        |  FROM (SELECT * FROM embeddings ORDER BY vec_id
        |    LIMIT $cells)),
        |a$j AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT vec_id, cell, row_number() OVER (
        |      PARTITION BY vec_id ORDER BY d2, cell) AS rn
        |    FROM (SELECT s$j.vec_id, c${j}_0.cell,
        |        ${d2(s"s$j.sv", s"c${j}_0.cv")} AS d2
        |      FROM s$j CROSS JOIN c${j}_0)) WHERE rn = 1),
        |m$j AS (
        |  SELECT cell, dim, round(avg(x), 6) + 0 AS mx FROM (
        |    SELECT a$j.cell,
        |      CAST(generate_subscripts(s$j.sv, 1) - 1 AS INT) AS dim,
        |      unnest(s$j.sv) AS x
        |    FROM a$j JOIN s$j USING (vec_id))
        |  GROUP BY cell, dim),
        |c${j}_1 AS (
        |  SELECT cell, list(mx ORDER BY dim) AS cv FROM m$j
        |  GROUP BY cell
        |  UNION ALL
        |  SELECT cell, cv FROM c${j}_0
        |  WHERE cell NOT IN (SELECT cell FROM m$j)),
        |f$j AS (
        |  SELECT vec_id, cell AS code_$j, d2 FROM (
        |    SELECT vec_id, cell, d2, row_number() OVER (
        |      PARTITION BY vec_id ORDER BY d2, cell) AS rn
        |    FROM (SELECT s$j.vec_id, c${j}_1.cell,
        |        ${d2(s"s$j.sv", s"c${j}_1.cv")} AS d2
        |      FROM s$j CROSS JOIN c${j}_1)) WHERE rn = 1)"""
        .stripMargin
    }
    chains.mkString(",\n")
  }

  def pqChainsSql(m: Int, sub: Int, cells: Int): String =
    s"""WITH v AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv
      |  FROM embeddings),
      |${pqChainsBody(m, sub, cells)}""".stripMargin

  def pqEncodeSql(m: Int, sub: Int, cells: Int): String = {
    val dim = m * sub
    val joins = (1 until m)
      .map(j => s"JOIN f$j USING (vec_id)").mkString(" ")
    val codeCols = (0 until m).map(j => s"code_$j").mkString(", ")
    val mseSum = (0 until m).map(j => s"f$j.d2").mkString(" + ")
    s"""${pqChainsSql(m, sub, cells)}
      |SELECT vec_id, $codeCols,
      |  round(($mseSum) / $dim, 8) + 0 AS recon_mse
      |FROM f0 $joins ORDER BY vec_id""".stripMargin
  }

  /** PQ-ADC top-k (q116): every corpus vector is represented by its m
    * codes only; distance = Σ_j L2²(query slice j, centroid(code_j)),
    * ranked (distance asc, neighbor asc) per query. */
  def pqAdcSql(m: Int, sub: Int, cells: Int, k: Int,
      nQueries: Int): String = {
    val d2 = pqD2(sub) _
    val codeJoins = (1 until m)
      .map(j => s"JOIN f$j USING (vec_id)").mkString(" ")
    val codeCols = (0 until m).map(j => s"code_$j").mkString(", ")
    val cbJoins = (0 until m)
      .map(j => s"JOIN c${j}_1 b$j ON b$j.cell = cd.code_$j")
      .mkString(" ")
    val adSum = (0 until m).map { j =>
      val off = j * sub
      d2(s"(q.vv[${off + 1}:${off + sub}])", s"b$j.cv")
    }.mkString(" + ")
    s"""${pqChainsSql(m, sub, cells)},
      |codes AS (
      |  SELECT f0.vec_id, $codeCols FROM f0 $codeJoins),
      |qv AS (SELECT vec_id AS query_id, vv FROM v
      |  WHERE vec_id < $nQueries),
      |scored AS (
      |  SELECT q.query_id, cd.vec_id AS neighbor_id, $adSum AS ad
      |  FROM qv q CROSS JOIN codes cd $cbJoins
      |  WHERE cd.vec_id <> q.query_id)
      |SELECT query_id, neighbor_id, round(ad, 8) + 0 AS adc_d2,
      |  CAST(rn AS INT) AS rn
      |FROM (SELECT query_id, neighbor_id, ad, row_number() OVER (
      |    PARTITION BY query_id ORDER BY ad, neighbor_id) AS rn
      |  FROM scored)
      |WHERE rn <= $k ORDER BY query_id, rn""".stripMargin
  }

  /** Per-doc BPE token counts under the `steps`-merge vocab: appends
    * CTEs ending in `nt(doc_id, n_tokens)` — the length table the
    * packing oracles (q63/q122) consume. Token-less docs count 0. */
  def bpeCountChain(steps: Int): String =
    bpeChain(steps) + s""",
      |enc AS (
      |  SELECT word,
      |    CAST(len(string_split_regex(trim(sym), ' +')) AS BIGINT)
      |      AS nsym
      |  FROM v$steps),
      |dw AS (
      |  SELECT doc_id, unnest(CASE WHEN trim(text) = '' THEN []
      |      ELSE string_split_regex(trim(lower(text)), '\\s+') END)
      |    AS word FROM documents),
      |pd AS (
      |  SELECT dw.doc_id, CAST(sum(e.nsym) AS BIGINT) AS nbpe
      |  FROM dw JOIN enc e USING (word) GROUP BY dw.doc_id),
      |nt AS (
      |  SELECT d.doc_id, coalesce(pd.nbpe, 0) AS n_tokens
      |  FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id)"""
      .stripMargin

  /** BPE token-id sequences (q125): symbol ids are sorted-symbol ranks
    * over the post-merge vocab's distinct symbols; each doc's sequence
    * splices its words' id runs in document order. */
  def bpeTokenIds(steps: Int): String =
    bpeChain(steps) + s""",
      |syms AS (
      |  SELECT DISTINCT unnest(string_split_regex(trim(sym), ' +'))
      |    AS s FROM v$steps),
      |ids AS (
      |  SELECT s, CAST(row_number() OVER (ORDER BY s) - 1 AS INT)
      |    AS sid FROM syms),
      |wsym AS (
      |  SELECT word, generate_subscripts(sy, 1) AS si, unnest(sy) AS s
      |  FROM (SELECT word, string_split_regex(trim(sym), ' +') AS sy
      |    FROM v$steps)),
      |wids AS (
      |  SELECT word, list(sid ORDER BY si) AS ids
      |  FROM wsym JOIN ids USING (s) GROUP BY word),
      |dw AS (
      |  SELECT doc_id, generate_subscripts(ws, 1) AS pos,
      |    unnest(ws) AS word
      |  FROM (SELECT doc_id, CASE WHEN trim(text) = '' THEN []
      |      ELSE string_split_regex(trim(lower(text)), '\\s+') END
      |      AS ws FROM documents)),
      |seqs AS (
      |  SELECT dw.doc_id, flatten(list(w.ids ORDER BY dw.pos))
      |    AS token_ids
      |  FROM dw JOIN wids w USING (word) GROUP BY dw.doc_id)
      |SELECT d.doc_id,
      |  coalesce(array_to_string(s2.token_ids, ','), '')
      |    AS token_ids_csv,
      |  CAST(coalesce(len(s2.token_ids), 0) AS BIGINT)
      |    AS n_bpe_tokens
      |FROM documents d LEFT JOIN seqs s2 ON d.doc_id = s2.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** Unigram-tokenizer vocabulary CTE chain (q176/q177): weighted
    * substring candidates over the distinct-word table, top-40 by
    * (count, piece), single-char closure, and the kept-set total the
    * scaled-int ln scores normalize by. */
  val unigramVocabBody: String =
    """w AS (
      |  SELECT word, CAST(count(*) AS BIGINT) AS n FROM (
      |    SELECT unnest(CASE WHEN trim(text) = '' THEN []
      |        ELSE string_split_regex(trim(lower(text)), '\s+') END)
      |      AS word FROM documents)
      |  GROUP BY word),
      |cand AS (
      |  SELECT substr(word, CAST(s + 1 AS INT), CAST(l AS INT))
      |      AS piece,
      |    CAST(sum(n) AS BIGINT) AS cnt
      |  FROM w,
      |    LATERAL unnest(range(0, len(word))) AS t(s),
      |    LATERAL unnest(range(1, 5)) AS u(l)
      |  WHERE s + l <= len(word)
      |  GROUP BY 1),
      |top AS (
      |  SELECT piece, cnt FROM cand
      |  ORDER BY cnt DESC, piece LIMIT 40),
      |vocab0 AS (
      |  SELECT DISTINCT piece, cnt FROM (
      |    SELECT * FROM top
      |    UNION ALL
      |    SELECT piece, cnt FROM cand WHERE len(piece) = 1)),
      |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM vocab0)"""
      .stripMargin

  val unigramVocabCtes: String =
    "WITH " + unigramVocabBody + "\n"

  def bpeMerges(steps: Int): String =
    bpeChain(steps) + (1 to steps).map(s =>
        s"SELECT $s AS step, l AS lhs, r AS rhs, cnt AS pair_count " +
          s"FROM t$s")
      .mkString("\n", "\nUNION ALL\n", "\nORDER BY step")

  def bpeEncode(steps: Int): String =
    bpeChain(steps) + s""",
      |enc AS (
      |  SELECT word, n,
      |    CAST(len(string_split_regex(trim(sym), ' +')) AS BIGINT)
      |      AS nsym
      |  FROM v$steps),
      |dw AS (
      |  SELECT doc_id, unnest(CASE WHEN trim(text) = '' THEN []
      |      ELSE string_split_regex(trim(lower(text)), '\\s+') END)
      |    AS word FROM documents),
      |pd AS (
      |  SELECT dw.doc_id, CAST(sum(e.nsym) AS BIGINT) AS n_bpe_tokens,
      |    CAST(count(*) AS BIGINT) AS n_words
      |  FROM dw JOIN enc e USING (word) GROUP BY dw.doc_id)
      |SELECT d.doc_id,
      |  coalesce(pd.n_bpe_tokens, 0) AS n_bpe_tokens,
      |  coalesce(pd.n_words, 0) AS n_words,
      |  round(CAST(length(d.text) AS DOUBLE)
      |    / greatest(coalesce(pd.n_bpe_tokens, 0), 1), 4)
      |    AS chars_per_token
      |FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** BM25 CTE chain (no leading WITH, no final SELECT): postings
    * stats + 1e-6-scaled integer contribution sums, ending at `ranked`
    * (query_id, doc_id, score, rn over ALL matched docs). `qrawSql` is
    * a CTE body producing (query_id BIGINT, token) — the tokenized
    * query set. */
  def bm25Ctes(qrawSql: String,
      corpusSql: String = "SELECT doc_id, text FROM documents")
      : String =
      s"""corpus AS ($corpusSql),
        |toks AS (
        |  SELECT doc_id, unnest(CASE WHEN trim(text) = '' THEN []
        |    ELSE string_split_regex(trim(lower(text)), '\\s+') END)
        |    AS token
        |  FROM corpus),
        |tf AS (SELECT doc_id, token, count(*) AS tf
        |  FROM toks GROUP BY 1, 2),
        |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |stats AS (SELECT count(*) AS n_docs,
        |  avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
        |qraw AS ($qrawSql),
        |qterms AS (SELECT DISTINCT query_id, token FROM qraw),
        |scored AS (
        |  SELECT qt.query_id, tf.doc_id,
        |    sum(CAST(round(
        |      ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (CAST(df AS DOUBLE) + 0.5) + 1.0)
        |      * CAST(tf AS DOUBLE) * (1.2 + 1.0)
        |      / (CAST(tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
        |      * 1000000.0) AS BIGINT)) AS score_s
        |  FROM tf
        |  JOIN qterms qt USING (token)
        |  JOIN dfreq USING (token)
        |  JOIN dl USING (doc_id)
        |  CROSS JOIN stats
        |  GROUP BY 1, 2),
        |ranked AS (
        |  SELECT query_id, doc_id,
        |    round(CAST(score_s AS DOUBLE) / 1000000.0, 4) AS score,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY score_s DESC, doc_id) AS INTEGER) AS rn
        |  FROM scored)""".stripMargin

  /** Corpus-derived query set shared by q141/q142: first 8 tokens of
    * docs 0-2; the source doc is the known positive (pos_id ==
    * query_id). */
  val bm25DerivedQueries: String =
    """SELECT query_id, unnest(CASE WHEN qtext = '' THEN []
      |    ELSE string_split_regex(qtext, '\s+') END) AS token
      |  FROM (SELECT doc_id AS query_id,
      |      array_to_string((CASE WHEN trim(text) = '' THEN []
      |        ELSE string_split_regex(trim(lower(text)), '\s+')
      |        END)[1:8], ' ') AS qtext
      |    FROM documents WHERE doc_id < 3)""".stripMargin

  val bm25LiteralQueries: String =
    """SELECT CAST(query_id AS BIGINT) AS query_id,
      |    unnest(string_split_regex(trim(lower(qtext)), '\s+'))
      |      AS token
      |  FROM (VALUES (0, 'hash join table'), (1, 'window agg scan'),
      |    (2, 'fast merge batch')) AS q(query_id, qtext)""".stripMargin

  val bm25FullCorpus: String =
    "WITH " + bm25Ctes(bm25LiteralQueries) + """
      |SELECT query_id, doc_id, score, rn FROM ranked
      |WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin


  /** Hybrid-retrieval CTE chain shared by q146/q154: the full BM25
    * chain (bm25Ctes over the derived queries) + the dense hashed-
    * vector side reusing the same toks/tf/dfreq postings + 1/(60+rank)
    * RRF fusion. Ends at `hout(query_id, doc_id, rrf, rank_sparse,
    * rank_dense, rn)` over the fused candidate set; also leaves
    * hbb/hnorm (corpus bucket vectors) for consumers needing dense
    * vectors. */
  /** Bucket-vector prefix shared by the hybrid oracles: the BM25
    * chain + corpus (hbb/hnorm) and external-query (qbb/qnorm) scaled
    * bucket vectors. */
  lazy val hybridBucketCtes: String =
    "WITH " + bm25Ctes(bm25DerivedQueries) + """,
      |hn AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
      |hsc AS (
      |  SELECT doc_id, token,
      |    round(tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0), 4)
      |      AS tfidf
      |  FROM tf JOIN dfreq USING (token) CROSS JOIN hn),
      |hbb AS (
      |  SELECT doc_id,
      |    CAST('0x' || substr(md5(token), 1, 8) AS BIGINT) % 64
      |      AS bucket,
      |    sum(CAST(round(tfidf * 10000.0, 0) AS BIGINT)) AS ws
      |  FROM hsc GROUP BY 1, 2),
      |hnorm AS (SELECT doc_id, sum(ws * ws) AS n2
      |  FROM hbb GROUP BY 1),
      |qtf AS (SELECT query_id, token, count(*) AS tf
      |  FROM qraw GROUP BY 1, 2),
      |qsc AS (
      |  SELECT query_id, token,
      |    round(tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0), 4)
      |      AS tfidf
      |  FROM qtf JOIN dfreq USING (token) CROSS JOIN hn),
      |qbb AS (
      |  SELECT query_id,
      |    CAST('0x' || substr(md5(token), 1, 8) AS BIGINT) % 64
      |      AS bucket,
      |    sum(CAST(round(tfidf * 10000.0, 0) AS BIGINT)) AS ws
      |  FROM qsc GROUP BY 1, 2),
      |qnorm AS (SELECT query_id, sum(ws * ws) AS n2
      |  FROM qbb GROUP BY 1)""".stripMargin

  lazy val hybridFusedCtes: String =
    hybridBucketCtes + """,
      |dnum AS (
      |  SELECT q.query_id, h.doc_id, sum(q.ws * h.ws) AS num
      |  FROM qbb q JOIN hbb h USING (bucket) GROUP BY 1, 2),
      |dsc AS (
      |  SELECT d.query_id, d.doc_id,
      |    CAST(num AS DOUBLE) / (sqrt(CAST(qn.n2 AS DOUBLE))
      |      * sqrt(CAST(hn2.n2 AS DOUBLE))) AS cs
      |  FROM dnum d JOIN qnorm qn USING (query_id)
      |  JOIN hnorm hn2 USING (doc_id)),
      |dranked AS (
      |  SELECT query_id, doc_id, CAST(row_number() OVER (
      |      PARTITION BY query_id ORDER BY cs DESC, doc_id)
      |    AS INTEGER) AS rn
      |  FROM dsc),
      |fused AS (
      |  SELECT coalesce(s.query_id, dd.query_id) AS query_id,
      |    coalesce(s.doc_id, dd.doc_id) AS doc_id,
      |    coalesce(1.0 / (60 + s.rn), 0.0)
      |      + coalesce(1.0 / (60 + dd.rn), 0.0) AS rrf,
      |    s.rn AS rank_sparse, dd.rn AS rank_dense
      |  FROM (SELECT query_id, doc_id, rn FROM ranked
      |    WHERE rn <= 20) s
      |  FULL JOIN (SELECT query_id, doc_id, rn FROM dranked
      |    WHERE rn <= 20) dd
      |    ON s.query_id = dd.query_id AND s.doc_id = dd.doc_id),
      |hout AS MATERIALIZED (
      |  SELECT query_id, doc_id, rrf, rank_sparse, rank_dense,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |      ORDER BY rrf DESC, doc_id) AS INTEGER) AS rn
      |  FROM fused)""".stripMargin

  /** Unrolled greedy MMR tail shared by q149/q154: assumes CTEs
    * `sl(query_id, neighbor_id, rel)` (the shortlist) and
    * `ps(query_id, i, j, sim)` (candidate pair sims) exist; emits the
    * k selection rounds (round 1 = argmax 0.7*rel; later rounds score
    * 0.7*rel - (1.0-0.7)*max sim to selected, ties -> smaller id) and
    * the final (query_id, neighbor_id, mmr_score, rn) SELECT. */
  def mmrUnrolledTail(k: Int): String = {
    val rounds = (2 to k).map { i =>
      s""",
         |s$i AS (
         |  SELECT query_id, neighbor_id, mmr, $i AS rn FROM (
         |    SELECT c.query_id, c.neighbor_id,
         |      0.7 * c.rel - (1.0 - 0.7) * coalesce(mx.msim, 0.0)
         |        AS mmr,
         |      row_number() OVER (PARTITION BY c.query_id
         |        ORDER BY 0.7 * c.rel
         |          - (1.0 - 0.7) * coalesce(mx.msim, 0.0) DESC,
         |          c.neighbor_id) AS rk
         |    FROM sl c
         |    LEFT JOIN (
         |      SELECT ps.query_id, ps.i AS neighbor_id,
         |        max(ps.sim) AS msim
         |      FROM ps JOIN sel${i - 1} s
         |        ON ps.query_id = s.query_id
         |        AND ps.j = s.neighbor_id
         |      GROUP BY 1, 2) mx
         |      ON mx.query_id = c.query_id
         |      AND mx.neighbor_id = c.neighbor_id
         |    WHERE NOT EXISTS (SELECT 1 FROM sel${i - 1} s2
         |      WHERE s2.query_id = c.query_id
         |      AND s2.neighbor_id = c.neighbor_id))
         |  WHERE rk = 1),
         |sel$i AS (SELECT query_id, neighbor_id FROM sel${i - 1}
         |  UNION ALL SELECT query_id, neighbor_id FROM s$i)""".stripMargin
    }.mkString
    """,
      |s1 AS (
      |  SELECT query_id, neighbor_id, mmr, 1 AS rn FROM (
      |    SELECT query_id, neighbor_id, 0.7 * rel AS mmr,
      |      row_number() OVER (PARTITION BY query_id
      |        ORDER BY 0.7 * rel DESC, neighbor_id) AS rk
      |    FROM sl) WHERE rk = 1),
      |sel1 AS (SELECT query_id, neighbor_id FROM s1)""".stripMargin +
      rounds + ("""
      |SELECT query_id, neighbor_id, round(mmr, 4) + 0 AS mmr_score,
      |  rn
      |FROM (""".stripMargin +
      (1 to k).map(i => s"SELECT * FROM s$i").mkString(
        "", " UNION ALL ", ")") + """
      |ORDER BY query_id, rn""".stripMargin)
  }

  /** PageRank power-iteration CTE rounds (no leading WITH): assumes a
    * CTE `e(src, dst, w)` exists; defines nodes/outw/n/r0 and
    * c_i/d_i/r_i for i = 1..iters, mirroring ops/PageRank bit-for-bit
    * (scaled-int ranks, exact-IEEE contribution rounding, dangling
    * redistribution). MATERIALIZED: round i references r_{i-1} twice.
    */
  def pageRankRounds(iters: Int): String = {
    val head =
      """nodes AS MATERIALIZED (SELECT DISTINCT node FROM (
        |  SELECT src AS node FROM e
        |  UNION ALL SELECT dst AS node FROM e)),
        |outw AS MATERIALIZED (
        |  SELECT src, sum(w) AS out_w FROM e GROUP BY 1),
        |n AS (SELECT count(*) AS n_nodes FROM nodes),
        |r0 AS MATERIALIZED (
        |  SELECT node, CAST(round(1000000000.0 /
        |    CAST(n_nodes AS DOUBLE)) AS BIGINT) AS rank_s
        |  FROM nodes CROSS JOIN n)""".stripMargin
    val steps = (1 to iters).map { k =>
      s""",
         |c$k AS MATERIALIZED (
         |  SELECT dst, sum(CAST(round(CAST(rank_s AS DOUBLE)
         |    * CAST(w AS DOUBLE) / CAST(out_w AS DOUBLE)) AS BIGINT))
         |    AS in_s
         |  FROM r${k - 1} JOIN e ON r${k - 1}.node = e.src
         |  JOIN outw USING (src)
         |  GROUP BY 1),
         |d$k AS (SELECT coalesce(sum(rank_s), 0) AS dangling_s
         |  FROM r${k - 1} LEFT JOIN outw ON r${k - 1}.node = outw.src
         |  WHERE outw.src IS NULL),
         |r$k AS MATERIALIZED (
         |  SELECT node, CAST(round((1.0 - 0.85) * 1000000000.0
         |      / CAST(n_nodes AS DOUBLE)
         |      + 0.85 * (CAST(coalesce(in_s, 0) AS DOUBLE)
         |        + CAST(dangling_s AS DOUBLE) / CAST(n_nodes AS DOUBLE)))
         |    AS BIGINT) AS rank_s
         |  FROM nodes LEFT JOIN c$k ON nodes.node = c$k.dst
         |  CROSS JOIN d$k CROSS JOIN n)""".stripMargin
    }.mkString
    head + steps
  }

  /** One full soft-EM training round for the q227 oracle, CTE names
    * suffixed by round number: the α/β lattice E-step (q224's
    * recursions verbatim, joined to this round's exact-rational
    * probabilities), the M-step floor/rescore, and the prune-by-loss
    * ranking — loss = HUGEINT(expected usage) × (score − best
    * alternative-composition score), keep
    * max(target − singles, ceil(3n/4)) multis by (loss DESC, piece).
    * The composition set comes from the SAME
    * [[graft.operators.Unigram.properCompositions]] enumeration the
    * Spark-side prune uses — one source of truth for both engines.
    * Heavily-referenced CTEs are MATERIALIZED (the closure-oracle
    * lesson: multi-referenced chained CTEs inline exponentially). */
  def softEmRoundSql(it: Int, vocabCte: String,
      targetVocab: Int, maxPieceLen: Int = 4): String = {
    val compBranches = (2 to maxPieceLen).flatMap { n =>
      graft.operators.Unigram.properCompositions(n).map { parts =>
        val joins = parts.zipWithIndex.map { case (l, k) =>
          val off = parts.take(k).sum
          s"  JOIN sc$it s${k + 1} ON s${k + 1}.piece = " +
            s"substr(k.piece, ${off + 1}, $l)"
        }.mkString("\n")
        val sumExpr = parts.indices.map(k => s"s${k + 1}.score")
          .mkString(" + ")
        s"  SELECT k.piece, $sumExpr AS cs\n  FROM sc$it k\n" +
          s"$joins\n  WHERE len(k.piece) = $n"
      }
    }.mkString("\n  UNION ALL\n")
    s"""tt$it AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM $vocabCte),
      |prob$it AS MATERIALIZED (SELECT piece, CAST(cnt AS DOUBLE) / t
      |    AS p
      |  FROM $vocabCte CROSS JOIN tt$it),
      |alpha$it AS (
      |  SELECT word, CAST(0 AS BIGINT) AS j,
      |    CAST(1.0 AS DOUBLE) AS a0, CAST(0.0 AS DOUBLE) AS a1,
      |    CAST(0.0 AS DOUBLE) AS a2, CAST(0.0 AS DOUBLE) AS a3
      |  FROM ws
      |  UNION ALL
      |  SELECT r.word, r.j + 1,
      |    r.a0 * coalesce(p1.p, 0.0) + r.a1 * coalesce(p2.p, 0.0)
      |      + r.a2 * coalesce(p3.p, 0.0) + r.a3 * coalesce(p4.p, 0.0),
      |    r.a0, r.a1, r.a2
      |  FROM alpha$it r
      |  LEFT JOIN prob$it p1
      |    ON p1.piece = substr(r.word, CAST(r.j + 1 AS INT), 1)
      |  LEFT JOIN prob$it p2 ON r.j >= 1
      |    AND p2.piece = substr(r.word, CAST(r.j AS INT), 2)
      |  LEFT JOIN prob$it p3 ON r.j >= 2
      |    AND p3.piece = substr(r.word, CAST(r.j - 1 AS INT), 3)
      |  LEFT JOIN prob$it p4 ON r.j >= 3
      |    AND p4.piece = substr(r.word, CAST(r.j - 2 AS INT), 4)
      |  WHERE r.j < len(r.word)),
      |beta$it AS (
      |  SELECT word, CAST(len(word) AS BIGINT) AS i,
      |    CAST(1.0 AS DOUBLE) AS b0, CAST(0.0 AS DOUBLE) AS b1,
      |    CAST(0.0 AS DOUBLE) AS b2, CAST(0.0 AS DOUBLE) AS b3
      |  FROM ws
      |  UNION ALL
      |  SELECT r.word, r.i - 1,
      |    coalesce(p1.p, 0.0) * r.b0 + coalesce(p2.p, 0.0) * r.b1
      |      + coalesce(p3.p, 0.0) * r.b2 + coalesce(p4.p, 0.0) * r.b3,
      |    r.b0, r.b1, r.b2
      |  FROM beta$it r
      |  LEFT JOIN prob$it p1
      |    ON p1.piece = substr(r.word, CAST(r.i AS INT), 1)
      |  LEFT JOIN prob$it p2 ON r.i + 1 <= len(r.word)
      |    AND p2.piece = substr(r.word, CAST(r.i AS INT), 2)
      |  LEFT JOIN prob$it p3 ON r.i + 2 <= len(r.word)
      |    AND p3.piece = substr(r.word, CAST(r.i AS INT), 3)
      |  LEFT JOIN prob$it p4 ON r.i + 3 <= len(r.word)
      |    AND p4.piece = substr(r.word, CAST(r.i AS INT), 4)
      |  WHERE r.i > 0),
      |af$it AS MATERIALIZED (SELECT word, j, a0 FROM alpha$it),
      |bf$it AS MATERIALIZED (SELECT word, i, b0 FROM beta$it),
      |zt$it AS MATERIALIZED (SELECT word, a0 AS z FROM alpha$it
      |  WHERE j = len(word)),
      |post$it AS (
      |  SELECT o.word, o.piece,
      |    CAST(round(a.a0 * pr.p * b.b0 / z.z * 1000000.0)
      |      AS BIGINT) AS u
      |  FROM occ o
      |  JOIN prob$it pr ON pr.piece = o.piece
      |  JOIN af$it a ON a.word = o.word AND a.j = o.s0
      |  JOIN bf$it b ON b.word = o.word AND b.i = o.s0 + o.l
      |  JOIN zt$it z ON z.word = o.word
      |  WHERE z.z > 0),
      |pw$it AS (SELECT word, piece, CAST(sum(u) AS BIGINT) AS u
      |  FROM post$it GROUP BY 1, 2),
      |usage$it AS MATERIALIZED (SELECT piece,
      |    CAST(sum(w.n * pw$it.u) AS BIGINT) AS usage_s
      |  FROM pw$it JOIN w USING (word) GROUP BY piece),
      |kept$it AS MATERIALIZED (
      |  SELECT piece, cnt FROM (
      |    SELECT v.piece,
      |      CASE WHEN len(v.piece) = 1
      |        THEN greatest(coalesce(u.usage_s, 0), 1000000)
      |        ELSE u.usage_s END AS cnt
      |    FROM $vocabCte v LEFT JOIN usage$it u USING (piece))
      |  WHERE cnt IS NOT NULL AND cnt > 0),
      |tot$it AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM kept$it),
      |sc$it AS MATERIALIZED (SELECT piece, CAST(cnt AS BIGINT) AS cnt,
      |    CAST(round(ln(CAST(cnt AS DOUBLE) / t) * 1000000.0)
      |      AS BIGINT) AS score
      |  FROM kept$it CROSS JOIN tot$it),
      |comp$it AS (
      |$compBranches),
      |alt$it AS MATERIALIZED (SELECT piece, max(cs) AS alt
      |  FROM comp$it GROUP BY piece),
      |cntm$it AS (SELECT
      |    count(*) FILTER (WHERE len(piece) > 1) AS nm,
      |    count(*) FILTER (WHERE len(piece) = 1) AS ns
      |  FROM sc$it),
      |rank$it AS (SELECT m.piece, m.cnt, row_number() OVER (
      |    ORDER BY (a.alt IS NULL) DESC,
      |      CAST(m.cnt AS HUGEINT)
      |        * CAST(m.score - a.alt AS HUGEINT) DESC,
      |      m.piece) AS rn
      |  FROM sc$it m LEFT JOIN alt$it a USING (piece)
      |  WHERE len(m.piece) > 1),
      |surv$it AS MATERIALIZED (
      |  SELECT piece, cnt FROM sc$it WHERE len(piece) = 1
      |  UNION ALL
      |  SELECT r.piece, r.cnt FROM rank$it r, cntm$it c
      |  WHERE r.rn <= least(c.nm,
      |    greatest(greatest(0, $targetVocab - c.ns),
      |      (3 * c.nm + 3) // 4)))""".stripMargin
  }

  /** Unrolled full-batch logistic-GD oracle replicating
    * [[graft.operators.QualityClassifier.scoreDF]] (lr = 0.5, zero
    * init): per-doc residuals are 6-dp-rounded, scaled to BIGINT and
    * integer-summed (order-free — the same determinism contract as the
    * Spark side), weights re-rounded to 6 dp each iteration. */
  def lrGdOracle(iters: Int): String = {
    val stopList = sqlStringList(
      graft.functions.TextFunctions.EnglishStopwords)
    val z = "wa + wb*f1 + wc*f2 + wd*f3"
    val header = s"""WITH f AS (
      |  SELECT doc_id, (source = 'src0') AS y,
      |    round(least(CAST(length(text) AS DOUBLE) / 500.0, 1.0), 6)
      |      AS f1,
      |    round(sqrt(CAST(len(list_distinct(toks)) AS DOUBLE)
      |      / greatest(CAST(len(toks) AS DOUBLE), 1.0)), 6) AS f2,
      |    round(CAST(len(list_filter(toks,
      |        t -> list_contains($stopList, t))) AS DOUBLE)
      |      / greatest(CAST(len(toks) AS DOUBLE), 1.0), 6) AS f3
      |  FROM (SELECT doc_id, source, text,
      |      CASE WHEN trim(text) = '' THEN []
      |      ELSE string_split_regex(trim(lower(text)), '\\s+') END
      |      AS toks FROM documents)),
      |n AS (SELECT CAST(count(*) AS DOUBLE) AS nv FROM f),
      |w0 AS (SELECT 0.0 AS wa, 0.0 AS wb, 0.0 AS wc, 0.0 AS wd)"""
    val iterCtes = (0 until iters).map { i =>
      s""",
      |g${i + 1} AS (
      |  SELECT sum(CAST(round(rs * 1000000.0, 0) AS BIGINT)) AS s0,
      |    sum(CAST(round(rs * f1 * 1000000.0, 0) AS BIGINT)) AS s1,
      |    sum(CAST(round(rs * f2 * 1000000.0, 0) AS BIGINT)) AS s2,
      |    sum(CAST(round(rs * f3 * 1000000.0, 0) AS BIGINT)) AS s3
      |  FROM (SELECT f1, f2, f3,
      |      (CASE WHEN y THEN 1.0 ELSE 0.0 END)
      |        - round(1.0 / (1.0 + exp(-($z))), 6) AS rs
      |    FROM f CROSS JOIN w$i)),
      |w${i + 1} AS (
      |  SELECT round(wa + 0.5 * s0 / (1000000.0 * nv), 6) AS wa,
      |    round(wb + 0.5 * s1 / (1000000.0 * nv), 6) AS wb,
      |    round(wc + 0.5 * s2 / (1000000.0 * nv), 6) AS wc,
      |    round(wd + 0.5 * s3 / (1000000.0 * nv), 6) AS wd
      |  FROM w$i CROSS JOIN g${i + 1} CROSS JOIN n)"""
    }.mkString
    val tail = s"""
      |SELECT doc_id, y AS label,
      |  round(1.0 / (1.0 + exp(-($z))), 4) + 0 AS score,
      |  (round(1.0 / (1.0 + exp(-($z))), 4) + 0) >= 0.5 AS pred
      |FROM f CROSS JOIN w$iters
      |ORDER BY doc_id"""
    (header + iterCtes + tail).stripMargin
  }

  /** q150: the q120 training chain (same CTEs up to w`iters`), then
    * decile-bucketed calibration — bucket score sums as ×10⁴ integers,
    * positive counts as longs, gap from the two ROUNDED values. */
  def lrCalibrationOracle(iters: Int, buckets: Int): String = {
    val trained = lrGdOracle(iters)
    val base = trained.substring(0, trained.indexOf("\nSELECT doc_id,"))
    val z = "wa + wb*f1 + wc*f2 + wd*f3"
    base + s""",
      |sc AS (SELECT doc_id, y,
      |  round(1.0 / (1.0 + exp(-($z))), 4) + 0 AS score
      |  FROM f CROSS JOIN w$iters),
      |b AS (
      |  SELECT least(CAST(floor(score * $buckets) AS INT),
      |      ${buckets - 1}) AS bucket,
      |    CAST(count(*) AS BIGINT) AS n,
      |    sum(CAST(round(score * 10000.0, 0) AS BIGINT)) AS ss,
      |    sum(CASE WHEN y THEN 1 ELSE 0 END) AS np
      |  FROM sc GROUP BY 1),
      |c AS (
      |  SELECT bucket, n,
      |    round(CAST(ss AS DOUBLE) / (10000.0 * n), 6) + 0
      |      AS mean_score,
      |    round(CAST(np AS DOUBLE) / n, 6) + 0 AS pos_rate
      |  FROM b)
      |SELECT bucket, n, mean_score, pos_rate,
      |  round(abs(mean_score - pos_rate), 6) + 0 AS gap
      |FROM c ORDER BY bucket""".stripMargin
  }

  /** Shared CTE stack for the IVF-PQ oracles (q117/q118): trained
    * coarse codebook (lloyd2cb16) + PQ chains + codes/assignment/
    * probes/ADC/shortlist/re-rank, ending at `rr(query_id,
    * neighbor_id, cs)`. */
  /** Shared CTE prefix replicating
    * [[graft.operators.HashingVectorizer]]: q52's TF-IDF base, term →
    * md5-bucket (dim 64), TF-IDF scaled to integers (×10⁴) so the
    * bucket sums `ws` and squared norms `n2` are exact. Ends at
    * `bb` (doc_id, bucket, ws) and `norms` (doc_id, n2). */
  /** Shared near-dup/closure machinery for the q59/q113/q131 family,
    * scale-safe at sf0.1 (where the previous all-pairs + recursive-CTE
    * form ground for hours):
    *
    *  - candidate pairs come from an INVERTED-INDEX join (docs sharing
    *    ≥ 1 shingle) — LOSSLESS for any jaccard threshold > 0, since
    *    jaccard ≥ t > 0 implies a shared shingle — instead of the
    *    all-pairs N² frame;
    *  - the transitive closure is UNROLLED min-label propagation with
    *    pointer jumping (new label = min of label-of-label and
    *    neighbors' labels; monotone nonincreasing, O(log n) rounds to
    *    the component min), with a fail-loud fixpoint guard: if
    *    `rounds` did not reach the fixpoint, `lab` is emptied and the
    *    compare fails RED rather than silently under-merging.
    *
    * Emits CTEs: sh (doc shingle sets), shu, cand, edges, sym,
    * l0..lN, conv, lab(doc_id, cluster_id). Callers append their
    * consumers of `lab`. */
  def closureCtes(rounds: Int = 8): String = {
    val head =
      """WITH sh AS MATERIALIZED (
        |  SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3
        |      THEN [array_to_string(toks, ' ')]
        |      ELSE list_transform(range(1, len(toks) - 1),
        |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
        |      END) AS s
        |  FROM (SELECT doc_id, CASE WHEN trim(text) = '' THEN []
        |      ELSE string_split_regex(trim(lower(text)), '\s+') END
        |      AS toks FROM documents)),
        |shu AS MATERIALIZED (SELECT doc_id, unnest(s) AS g FROM sh),
        |cand AS MATERIALIZED (
        |  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
        |  FROM shu a JOIN shu b ON a.g = b.g AND a.doc_id < b.doc_id),
        |edges AS MATERIALIZED (
        |  SELECT c.src, c.dst FROM cand c
        |  JOIN sh sa ON sa.doc_id = c.src
        |  JOIN sh sb ON sb.doc_id = c.dst
        |  WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
        |      / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)))
        |    >= 0.95),
        |sym AS MATERIALIZED (SELECT src, dst FROM edges
        |  UNION SELECT dst AS src, src AS dst FROM edges),
        |l0 AS MATERIALIZED (
        |  SELECT d.doc_id,
        |    least(d.doc_id, coalesce(m.mn, d.doc_id)) AS lab
        |  FROM documents d LEFT JOIN (
        |    SELECT src AS doc_id, min(dst) AS mn FROM sym
        |    GROUP BY src) m USING (doc_id))""".stripMargin
    val steps = (1 to rounds).map { k =>
      s""",
         |l$k AS MATERIALIZED (
         |  SELECT t.doc_id, min(t.v) AS lab FROM (
         |    SELECT cur.doc_id, ptr.lab AS v
         |    FROM l${k - 1} cur JOIN l${k - 1} ptr
         |      ON ptr.doc_id = cur.lab
         |    UNION ALL
         |    SELECT s.src AS doc_id, x.lab AS v
         |    FROM sym s JOIN l${k - 1} x ON x.doc_id = s.dst) t
         |  GROUP BY t.doc_id)""".stripMargin
    }.mkString
    val guard =
      s""",
         |conv AS (
         |  SELECT count(*) AS n FROM l${rounds - 1} a
         |  JOIN l$rounds b ON a.doc_id = b.doc_id
         |  WHERE a.lab <> b.lab),
         |lab AS (
         |  SELECT doc_id, lab AS cluster_id FROM l$rounds
         |  WHERE (SELECT n FROM conv) = 0)""".stripMargin
    head + steps + guard
  }

  lazy val hashedVectorCtes: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(CASE WHEN trim(text) = '' THEN []
      |    ELSE string_split_regex(trim(lower(text)), '\s+') END)
      |    AS token
      |  FROM documents),
      |tf AS (SELECT doc_id, token, count(*) AS tf
      |  FROM toks GROUP BY 1, 2),
      |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
      |scored AS (
      |  SELECT doc_id, token, tf,
      |    round(tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0), 4)
      |      AS tfidf
      |  FROM tf JOIN dfreq USING (token) CROSS JOIN n),
      |bucketed AS (
      |  SELECT doc_id,
      |    CAST('0x' || substr(md5(token), 1, 8) AS BIGINT) % 64
      |      AS bucket,
      |    CAST(round(tfidf * 10000.0, 0) AS BIGINT) AS w
      |  FROM scored),
      |bb AS (SELECT doc_id, bucket, sum(w) AS ws
      |  FROM bucketed GROUP BY 1, 2),
      |norms AS (SELECT doc_id, sum(ws * ws) AS n2 FROM bb GROUP BY 1)
      |""".stripMargin

  lazy val ivfPqCtes: String =
    (lloyd2cb16 + ",\n" +
      pqChainsBody(m = 4, sub = 16, cells = 16) + """,
        |codes AS (
        |  SELECT f0.vec_id, code_0, code_1, code_2, code_3
        |  FROM f0 JOIN f1 USING (vec_id) JOIN f2 USING (vec_id)
        |    JOIN f3 USING (vec_id)),
        |asn AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT v.vec_id, cb2.cell, row_number() OVER (
        |      PARTITION BY v.vec_id
        |      ORDER BY list_cosine_similarity(vv, cv) DESC, cell) AS rn
        |    FROM v CROSS JOIN cb2) WHERE rn = 1),
        |probes AS (
        |  SELECT query_id, cell FROM (
        |    SELECT v.vec_id AS query_id, cb2.cell, row_number() OVER (
        |      PARTITION BY v.vec_id
        |      ORDER BY list_cosine_similarity(vv, cv) DESC, cell) AS rn
        |    FROM v CROSS JOIN cb2 WHERE v.vec_id < 10) WHERE rn <= 4),
        |adc AS (
        |  SELECT p.query_id, a.vec_id AS neighbor_id,
        |    list_sum(list_transform(range(1, 17),
        |      i -> (qv.vv[i]-b0.cv[i])*(qv.vv[i]-b0.cv[i])))
        |    + list_sum(list_transform(range(1, 17),
        |      i -> (qv.vv[16+i]-b1.cv[i])*(qv.vv[16+i]-b1.cv[i])))
        |    + list_sum(list_transform(range(1, 17),
        |      i -> (qv.vv[32+i]-b2.cv[i])*(qv.vv[32+i]-b2.cv[i])))
        |    + list_sum(list_transform(range(1, 17),
        |      i -> (qv.vv[48+i]-b3.cv[i])*(qv.vv[48+i]-b3.cv[i])))
        |      AS ad
        |  FROM probes p JOIN asn a ON p.cell = a.cell
        |  JOIN codes cd ON cd.vec_id = a.vec_id
        |  JOIN c0_1 b0 ON b0.cell = cd.code_0
        |  JOIN c1_1 b1 ON b1.cell = cd.code_1
        |  JOIN c2_1 b2 ON b2.cell = cd.code_2
        |  JOIN c3_1 b3 ON b3.cell = cd.code_3
        |  JOIN v qv ON qv.vec_id = p.query_id
        |  WHERE a.vec_id <> p.query_id),
        |short AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id, row_number() OVER (
        |      PARTITION BY query_id ORDER BY ad, neighbor_id) AS rn
        |    FROM adc) WHERE rn <= 100),
        |rr AS (
        |  SELECT s.query_id, s.neighbor_id,
        |    list_cosine_similarity(qv.vv, nv.vv) AS cs
        |  FROM short s
        |  JOIN v qv ON qv.vec_id = s.query_id
        |  JOIN v nv ON nv.vec_id = s.neighbor_id)""".stripMargin)
}
