package graft.queries

import org.apache.spark.sql.functions._
import graft.llmops.{Dedup, Multimodal, Pipeline, Similarity, TextOps}
import Qh._

/** SURVEY §2.B.12 — the LLM-data-pipeline extension operators over the
  * `documents` / `embeddings` fixtures. Every algorithm is deterministic
  * (md5-seeded integer hashing, fixed fold order), so the DuckDB oracle
  * replicates it exactly — including the MinHash/SimHash signatures.
  * The SQL twins are GENERATED from the same Scala constants as the
  * Spark plans, so parameters can never drift.
  */
object LlmQueries {

  /** Cosine threshold for the semantic-decontamination declared query —
    * ONE constant interpolated into both the Spark plan and the oracle
    * SQL (drift-proof). 0.38 flags ~2% of the synthetic corpus (whose
    * max pairwise cosine is only ~0.51 — there are no true near-dups,
    * so the declared query exercises the machinery, not the epsilon). */
  val SemDecontamTau = 0.38

  /** Cosine threshold for the SemDeDup-style within-cell dedup declared
    * query — shared by plan and oracle (0.35 pairs ~0.6% of within-cell
    * candidates on the structureless synthetic corpus). */
  val SemDedupTau = 0.35

  /** Window width (tokens) for duplicate-passage extraction — shared by
    * the Spark kernel call and the oracle's slice arithmetic. */
  val SpanWindow = 16
  val SpanMaxDf = 2 // dedup_spans_capped: binds at sf0.01 (df=3 hashes exist)

  /** Paragraph width (tokens) for the dedup_paragraphs fixture re-flow —
    * the synthetic corpus is newline-free, so the declared query first
    * re-flows each doc into fixed 20-token lines (IDENTICAL transform on
    * both sides) before the newline-unit operator runs. 59 duplicate
    * paragraph instances exist at sf0.01, one doc fully emptied. */
  val ParaTokens = 20

  /** Vocabulary size for the OOV-rate declared query — 20 of the
    * corpus's 31 distinct tokens, so the out-of-vocab tail is real. */
  val OovVocabK = 20

  /** Bloom decontamination sizing — 2^18 bits, 4 probe functions.
    * Deliberately NOT oversized for the sf0.01 benchmark (≈1.1k eval
    * shingles): the declared query shows the bloom as a bloom, with a
    * measured ~29-document over-flag beside the exact pass's 2 — the
    * safe direction, and the oracle replays every false positive
    * bit-for-bit. Serving sizes m at ~10 bits per benchmark shingle. */
  val BloomMBits = 1 << 18
  val BloomK = 4

  /** Target token-share mixture for the mix-rates declared query — ONE
    * constant generating both the Spark plan and the oracle CASE. */
  val MixTargets: Map[String, Double] =
    Map("en" -> 0.4, "fr" -> 0.2, "es" -> 0.2, "de" -> 0.1, "zh" -> 0.1)

  /** Composite quality-gate thresholds (Gopher-family filter rules) —
    * single constants shared by the Spark plan and the oracle SQL.
    * Chosen against the measured sf0.01 signal distributions so each
    * rule actually splits the corpus (too_short ~5%, low_stopwords
    * ~18%, low_ttr ~13%; the repetition rule fires only on genuinely
    * degenerate docs — none in the synthetic corpus — and is exercised
    * by a planted spec case instead). */
  val QgMinTokens = 16
  val QgMaxTokens = 512
  val QgMinStopRatio = 0.03
  val QgMinTtr = 0.33
  val QgMaxDupTrigram = 0.2

  /** N-gram LM quality-scoring configuration (Pipeline.lmScore /
    * lmBucket) — single constants shared by the Spark plan and the
    * oracle SQL. `src1` plays the trusted reference slice (the wiki
    * stand-in); the caps are sized so the top-k cut actually BITES on
    * the sf0.01 reference (~5k bigrams → 512 keeps the cut exercised,
    * ties and all) — at a real corpus they'd be ~10⁶–10⁷, still
    * config-sized and broadcastable. The 40% threshold sample yields
    * ~190 sampled xents at sf0.01; a production corpus dials the rate
    * down to keep the sample ~10³–10⁴ (the scaladoc contract). */
  val LmRefSource = "src1"
  val LmTopBigrams = 512
  val LmTopUnigrams = 256
  val LmSamplePct = 40
  val LmSalt = "graft_ppl_"

  /** DSIR importance-resampling configuration (Pipeline.dsirWeights) —
    * shared constants. 2^16 feature buckets (the paper's hashed-bigram
    * space — model size is the BUCKET count, not the vocabulary);
    * raw model from a 25% md5 sample. The tiny src1 target slice makes
    * every log_w negative (most buckets unseen under target pay the
    * smoothing floor), so τ sits at the measured sf0.01 median (−61,
    * range −126…−9) to make the keep decision split the corpus — the
    * Qg-threshold discipline. */
  val DsirBuckets = 1 << 16
  val DsirRawPct = 25
  val DsirSalt = "graft_dsir_"
  val DsirTau = -61.0

  // trained centroids and PQ codebooks live in [[Qh.FrameCache]] as
  // values keyed on the source `embeddings.parquet` — the UNIFIED
  // fingerprint (load.IndexKeys, r13 order #9): regenerated source data
  // at the same path must retrain, or the served lists would silently
  // diverge from the oracle's replay (code-review r8), and a retrain
  // releases the superseded models
  private def embeddings(d: String): String = s"$d/embeddings.parquet"
  private def trainedCentroids(emb: org.apache.spark.sql.DataFrame,
      d: String): Seq[(Long, Seq[Double])] =
    FrameCache.value("kmeans-16", embeddings(d))(
      Similarity.trainKMeans(emb, "vec_id", "embedding", 16, 256))
  private def trainedPqBooks(emb: org.apache.spark.sql.DataFrame,
      d: String): IndexedSeq[IndexedSeq[Array[Double]]] =
    FrameCache.value("pq-4x16", embeddings(d))(
      Similarity.trainPqCodebooks(emb, "vec_id", "embedding", 4, 16, 256))
  // signature-index cache key (dedup_incremental) — same fingerprint
  // discipline (and the same documented staleness trade, BASELINE #14)
  // as the trained-model caches above
  private def documents(d: String): String = s"$d/documents.parquet"
  private def docFingerprint(d: String): String =
    graft.load.IndexKeys.fingerprint(documents(d))

  // df-capped 3-gram shingle layout of `documents` — the jaccard AND
  // containment queries run the same kernel + distinct + df-cap stage
  // (r18, the derived-layout discipline of [[Qh.FrameCache]]); each
  // query's pair join + sizes + its own filter still run per query
  private def docShingles3(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    FrameCache.frame("shingles-3", documents(d))(
      Dedup.shingleSet(t(s, d, "documents"), "doc_id", "text", 3,
        Dedup.JaccardMaxDf).localCheckpoint(true))

  // (doc, pos, window-hash) span-window layout at SpanWindow tokens —
  // the four span queries (spans / spans_capped / spans_scrub /
  // coverage) each re-ran the tokenize + NGramMd5 kernel pass and
  // re-checkpointed its output per query per bench pass (r18)
  private def docSpanWindows(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    FrameCache.frame(s"span-windows-$SpanWindow", documents(d))(
      Dedup.spanWindows(t(s, d, "documents"), "doc_id", "text", SpanWindow)
        .localCheckpoint(true))

  // DuckDB replay of Similarity.trainKMeans(k=16, nTrain=256, iters=2):
  // grid-round (floor to 2^-20 — sums of grid values are exact under
  // ANY order, the determinism device), then two unrolled Lloyd
  // iterations — L2-expansion argmin assignment (ties → smallest cid),
  // per-(cell, pos) sum/count means, empty cells keep their centroid.
  // Ends at CTE `c2` = the trained centroid table (cid, cv DOUBLE[]).
  private val KmeansCtes: String = {
    def iter(n: Int, prev: String): String =
      s"""d$n AS (SELECT t.vec_id, t.v, c.cid,
          list_dot_product(t.v, t.v) - 2.0 * list_dot_product(t.v, c.cv)
            + list_dot_product(c.cv, c.cv) AS d
        FROM tr t CROSS JOIN $prev c),
      a$n AS (SELECT vec_id, v, cid AS cell FROM (
          SELECT vec_id, v, cid, row_number() OVER (PARTITION BY vec_id
            ORDER BY d ASC, cid ASC) AS rn FROM d$n) z
        WHERE rn = 1),
      s$n AS (SELECT cell, p.pos AS pos, sum(v[p.pos + 1]) AS s, count(*) AS n
        FROM a$n CROSS JOIN range(64) p(pos) GROUP BY cell, p.pos),
      m$n AS (SELECT cell AS cid, list(s / n ORDER BY pos) AS cv FROM s$n GROUP BY cell),
      c$n AS (SELECT b.cid, coalesce(m$n.cv, b.cv) AS cv
        FROM $prev b LEFT JOIN m$n ON m$n.cid = b.cid)"""
    s"""tr0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS raw
        FROM embeddings WHERE vec_id < 256),
      tr AS (SELECT vec_id, list_transform(raw, x -> floor(
          (CASE WHEN list_dot_product(raw, raw) = 0 THEN 0.0
            ELSE x / sqrt(list_dot_product(raw, raw)) END) * 1048576.0)
          / 1048576.0) AS v FROM tr0),
      c0 AS (SELECT vec_id AS cid, v AS cv FROM tr WHERE vec_id < 16),
      ${iter(1, "c0")},
      ${iter(2, "c1")}"""
  }

  // DuckDB replay of Similarity.trainPqCodebooks(m=4, nCodes=16,
  // nTrain=256, iters=2): grid-round RAW vectors (PQ trains in the L2
  // geometry it encodes with — no unit normalization), slice into 4
  // 16-dim subspaces, two unrolled Lloyd iterations per subspace in the
  // SAME CTEs (subspace id is a grouping column). Ends at `pcb2`
  // = (m, code, c DOUBLE[16]) — the trained codebook table.
  private val PqKmeansCtes: String = {
    def iter(n: Int, prev: String): String =
      s"""pd$n AS (SELECT t.vec_id, t.m, t.s, b.code,
          list_dot_product(t.s, t.s) - 2.0 * list_dot_product(t.s, b.c)
            + list_dot_product(b.c, b.c) AS d2
        FROM psl t JOIN $prev b ON b.m = t.m),
      pa$n AS (SELECT vec_id, m, s, code FROM (
          SELECT vec_id, m, s, code, row_number() OVER (PARTITION BY vec_id, m
            ORDER BY d2 ASC, code ASC) AS rn FROM pd$n) z
        WHERE rn = 1),
      ps$n AS (SELECT m, code, p.pos AS pos, sum(s[p.pos + 1]) AS sm, count(*) AS n
        FROM pa$n CROSS JOIN range(16) p(pos) GROUP BY m, code, p.pos),
      pm$n AS (SELECT m, code, list(sm / n ORDER BY pos) AS c FROM ps$n GROUP BY m, code),
      pcb$n AS (SELECT b.m, b.code, coalesce(pm$n.c, b.c) AS c
        FROM $prev b LEFT JOIN pm$n ON pm$n.m = b.m AND pm$n.code = b.code)"""
    s"""ptr0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS raw
        FROM embeddings WHERE vec_id < 256),
      ptr AS (SELECT vec_id, list_transform(raw,
          x -> floor(x * 1048576.0) / 1048576.0) AS v FROM ptr0),
      pms AS (SELECT unnest(range(4)) AS m),
      psl AS (SELECT vec_id, m, v[m*16+1 : m*16+16] AS s FROM ptr CROSS JOIN pms),
      pcb0 AS (SELECT m, vec_id AS code, v[m*16+1 : m*16+16] AS c
        FROM ptr CROSS JOIN pms WHERE vec_id < 16),
      ${iter(1, "pcb0")},
      ${iter(2, "pcb1")}"""
  }

  // DuckDB twin of TextOps.md5Hash32/60: fold hex digits of md5 into an
  // integer (list_reduce seeds with the first element, which equals a
  // 0-seeded fold for base folding).
  private def sqlHexFold(hexExpr: String, nChars: Int): String =
    s"list_reduce(list_transform(generate_series(1, $nChars), " +
      s"j -> instr('0123456789abcdef', substr($hexExpr, j, 1)) - 1), (a, x) -> a * 16 + x)"

  private def sqlMd5Hash32(strExpr: String): String =
    sqlHexFold(s"md5($strExpr)", 8)
  private def sqlMd5Hash60(strExpr: String): String =
    sqlHexFold(s"md5($strExpr)", 15)

  /** Shared CTE chain for the LM-scoring twins: train the capped
    * stupid-backoff model on the `LmRefSource` slice, score everything
    * else (mirrors Pipeline.lmScore step for step — same 60-bit md5
    * key hashes, same caps, same hash tie-breaks, same backoff
    * arithmetic). Ends at `sc` = (doc_id, n_scored, xent). */
  private def sqlLmCtes: String =
    s"""tkx AS (SELECT doc_id, source, string_split(text, ' ') AS tk FROM documents),
    runi AS (SELECT unnest(tk) AS t FROM tkx WHERE source = '$LmRefSource'),
    uni AS (SELECT ${sqlMd5Hash60("t")} AS uh, CAST(count(*) AS BIGINT) AS c1
      FROM runi GROUP BY uh),
    tot AS (SELECT CAST(sum(c1) AS DOUBLE) AS n_ref FROM uni),
    unitop AS (SELECT uh, c1 FROM uni ORDER BY c1 DESC, uh ASC LIMIT $LmTopUnigrams),
    rbg AS (SELECT unnest(list_transform(generate_series(1, len(tk) - 1),
        i -> {'b': array_to_string(tk[i:i+1], ' '), 'p': tk[i]})) AS u
      FROM tkx WHERE source = '$LmRefSource' AND len(tk) >= 2),
    bgtop AS (SELECT ${sqlMd5Hash60("u.b")} AS bgh, ${sqlMd5Hash60("u.p")} AS pfxh,
        CAST(count(*) AS BIGINT) AS c2
      FROM rbg GROUP BY bgh, pfxh ORDER BY c2 DESC, bgh ASC LIMIT $LmTopBigrams),
    bgm AS (SELECT bgh, c2, c1 AS c1p FROM bgtop JOIN uni ON uni.uh = bgtop.pfxh),
    cb0 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - 1),
        i -> {'b': array_to_string(tk[i:i+1], ' '), 'x': tk[i + 1]})) AS u
      FROM tkx WHERE source <> '$LmRefSource' AND len(tk) >= 2),
    cb AS (SELECT doc_id, ${sqlMd5Hash60("u.b")} AS bgh, ${sqlMd5Hash60("u.x")} AS nxh
      FROM cb0),
    lp AS (SELECT doc_id,
        CASE WHEN bgm.c2 IS NOT NULL THEN ln(bgm.c2 / CAST(bgm.c1p AS DOUBLE))
          WHEN u2.c1 IS NOT NULL THEN ln(0.4 * u2.c1 / n_ref)
          ELSE ln(0.4 / n_ref) END AS logp
      FROM cb LEFT JOIN bgm USING (bgh)
        LEFT JOIN unitop u2 ON u2.uh = cb.nxh
        CROSS JOIN tot),
    ag AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_scored,
        round(-(sum(logp) / count(*)), 4) AS xent FROM lp GROUP BY doc_id),
    sc AS (SELECT d.doc_id, coalesce(ag.n_scored, 0) AS n_scored, ag.xent
      FROM documents d LEFT JOIN ag USING (doc_id)
      WHERE d.source <> '$LmRefSource')"""

  /** DuckDB twin of TextOps.predictLang as a CTE chain over `documents`
    * (sequential argmax fold, one CTE per step, same order as Scala).
    * `carry` columns flow through every step. Returns
    * (cteChain, finalCteName, predLangColumn). */
  private def sqlLangChain(carry: String): (String, String, String) = {
    val hits = TextOps.LangMarkers.map { case (lang, m) =>
      val lst = m.map(w => s"'$w'").mkString(",")
      s"len(list_filter(string_split(text, ' '), x -> x IN ($lst))) AS h_$lang"
    }.mkString(", ")
    val langs = TextOps.LangMarkers.map(_._1)
    val steps = langs.tail.zipWithIndex.map { case (lg, i) =>
      val (pb, ps) = if (i == 0) (s"'${langs.head}'", s"h_${langs.head}")
                     else (s"bl$i", s"bs$i")
      s"""s${i + 1} AS (SELECT *,
        CASE WHEN h_$lg > $ps THEN h_$lg ELSE $ps END AS bs${i + 1},
        CASE WHEN h_$lg > $ps THEN '$lg' ELSE $pb END AS bl${i + 1}
        FROM ${if (i == 0) "h" else s"s$i"})"""
    }.mkString(", ")
    (s"h AS (SELECT $carry, $hits FROM documents), $steps",
      s"s${langs.size - 1}", s"bl${langs.size - 1}")
  }

  /** DuckDB twin of the quality gate's per-language stopword count
    * (qualityGate selects the LABEL's marker set; unknown/unlabeled
    * labels fall back to the English set — ADVICE r10). Generated from
    * the same [[TextOps.LangMarkers]] constant as the Spark plan.
    * References the `q` alias of the gate's base CTE. */
  private lazy val sqlStopHitsByLang: String = {
    def hits(m: Seq[String]) =
      s"len(list_filter(string_split(q.text, ' '), x -> x IN (${m.map(w => s"'$w'").mkString(",")})))"
    val whens = TextOps.LangMarkers.map { case (lang, m) =>
      s"WHEN '$lang' THEN ${hits(m)}"
    }.mkString(" ")
    s"(CASE q.lang $whens ELSE ${hits(TextOps.LangMarkers.head._2)} END)"
  }

  /** DuckDB twin of the MinHash signature + banding pipeline as a CTE
    * chain (`hs`, `sig`, `banded`) — shared by the candidate-pair and
    * near-dup-removal oracles so the parameters can never drift. */
  private lazy val sqlMinhashBandedCtes: String = {
    val perms = Dedup.permParams(16)
    val sigCols = perms.zipWithIndex.map { case ((a, b), i) =>
      s"min(($a * h + $b) % ${Dedup.P31}) AS s$i"
    }.mkString(", ")
    val bandRows = (0 until 4).map { bnd =>
      val sig = (0 until 4).map(r => s"CAST(s${bnd * 4 + r} AS VARCHAR)")
        .mkString(" || '_' || ")
      s"SELECT doc_id, $bnd AS band, $sig AS sig FROM sig"
    }.mkString(" UNION ALL ")
    s"""hs AS (SELECT doc_id, ${sqlMd5Hash32("sh")} % ${Dedup.P31} AS h
        FROM ($sqlShingles3) raw),
      sig AS (SELECT doc_id, $sigCols FROM hs GROUP BY doc_id),
      banded AS ($bandRows)"""
  }

  // DuckDB twin of TextOps.shingles(text, 3) exploded per doc (scalar
  // generate_series → list → unnest; the lateral form can't take columns)
  private val sqlShingles3 =
    """SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - 2),
      i -> array_to_string(tk[i:i+2], ' '))) AS sh
      FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents) t
      WHERE len(tk) >= 3"""

  /** DuckDB twin of the residual IVF-PQ retrieval, parameterized on
    * the sub-quantizer count `m` (r16, VERDICT r15 order #3): the
    * 16-bit m=4 rung and the 32-bit m=8 rung replay the SAME chain —
    * only the subspace count and width (dsub = 64/m) move. nCodes
    * stays 16 (one byte-equivalent codebook per subspace; the budget
    * rung is m, exactly the IVFADC knob), nTrain stays 256, and the
    * per-cell candidate cap is the overfetch-aware effective cap. */
  private def residualIvfPqOracle(m: Int, nCodes: Int = 16): String = {
    val dsub = 64 / m
    require(m * dsub == 64, s"m=$m must divide the 64-dim embeddings")
    require(nCodes >= 2 && nCodes <= 256, s"nCodes=$nCodes out of range")
    def riter(n: Int, prev: String): String =
      s"""rd$n AS (SELECT t.vec_id, t.m, t.s, b.code,
          list_dot_product(t.s, t.s) - 2.0 * list_dot_product(t.s, b.c)
            + list_dot_product(b.c, b.c) AS d2
        FROM rsl t JOIN $prev b ON b.m = t.m),
      ra$n AS (SELECT vec_id, m, s, code FROM (
          SELECT vec_id, m, s, code, row_number() OVER (PARTITION BY vec_id, m
            ORDER BY d2 ASC, code ASC) AS rn FROM rd$n) z
        WHERE rn = 1),
      rs$n AS (SELECT m, code, p.pos AS pos, sum(s[p.pos + 1]) AS sm, count(*) AS n
        FROM ra$n CROSS JOIN range($dsub) p(pos) GROUP BY m, code, p.pos),
      rm$n AS (SELECT m, code, list(sm / n ORDER BY pos) AS c FROM rs$n GROUP BY m, code),
      rcb$n AS (SELECT b.m, b.code, coalesce(rm$n.c, b.c) AS c
        FROM $prev b LEFT JOIN rm$n ON rm$n.m = b.m AND rm$n.code = b.code)"""
    s"WITH $KmeansCtes, " +
    s"""v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    sc AS (SELECT t.vec_id, t.v, c.cid, list_dot_product(t.v, c.cv) /
        (sqrt(list_dot_product(t.v, t.v)) * sqrt(list_dot_product(c.cv, c.cv))) AS ccos
      FROM v t CROSS JOIN c2 c),
    cell AS (SELECT vec_id, v, cid AS cell FROM (
        SELECT vec_id, v, cid, row_number() OVER (PARTITION BY vec_id
          ORDER BY ccos DESC, cid ASC) AS rn FROM sc) z
      WHERE rn = 1),
    celln AS (SELECT vec_id, v, cell, row_number() OVER (PARTITION BY cell
        ORDER BY vec_id ASC) AS crn FROM cell),
    uv AS (SELECT vec_id, v, cell, crn, list_transform(v,
        x -> CASE WHEN list_dot_product(v, v) = 0 THEN 0.0
          ELSE x / sqrt(list_dot_product(v, v)) END) AS u
      FROM celln),
    ures AS (SELECT n.vec_id, n.cell, n.crn,
        list_transform(generate_series(1, 64), i -> n.u[i] - c.cv[i]) AS r
      FROM uv n JOIN c2 c ON c.cid = n.cell),
    rtr AS (SELECT vec_id, list_transform(r,
        x -> floor(x * 1048576.0) / 1048576.0) AS v
      FROM ures WHERE vec_id < 256),
    rms AS (SELECT unnest(range($m)) AS m),
    rsl AS (SELECT vec_id, m, v[m*$dsub+1 : m*$dsub+$dsub] AS s FROM rtr CROSS JOIN rms),
    rcb0 AS (SELECT m, vec_id AS code, v[m*$dsub+1 : m*$dsub+$dsub] AS c
      FROM rtr CROSS JOIN rms WHERE vec_id < $nCodes),
    ${riter(1, "rcb0")},
    ${riter(2, "rcb1")},
    resl AS (SELECT vec_id, m, r[m*$dsub+1 : m*$dsub+$dsub] AS s FROM ures CROSS JOIN rms),
    red AS (SELECT e.vec_id, e.m, b.code, b.c,
        list_dot_product(e.s, e.s) - 2.0 * list_dot_product(e.s, b.c)
          + list_dot_product(b.c, b.c) AS d2
      FROM resl e JOIN rcb2 b ON b.m = e.m),
    rchosen AS (SELECT vec_id, m, c FROM (
        SELECT vec_id, m, c, row_number() OVER (PARTITION BY vec_id, m
          ORDER BY d2 ASC, code ASC) AS rn FROM red) z
      WHERE rn = 1),
    rrecon AS (SELECT vec_id, flatten(list(c ORDER BY m)) AS rr
      FROM rchosen GROUP BY vec_id),
    fullr AS (SELECT u.vec_id,
        list_transform(generate_series(1, 64), i -> c.cv[i] + rr.rr[i]) AS rv
      FROM ures u JOIN c2 c ON c.cid = u.cell
      JOIN rrecon rr ON rr.vec_id = u.vec_id),
    q AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id IN (0,1,2,3,4)),
    qsc AS (SELECT qid, qv, cid, list_dot_product(qv, cv) /
        (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS ccos
      FROM q CROSS JOIN c2),
    probes AS (SELECT qid, qv, cid AS cell FROM (
        SELECT qid, qv, cid, row_number() OVER (PARTITION BY qid
          ORDER BY ccos DESC, cid ASC) AS rn FROM qsc) z
      WHERE rn <= 4),
    cand AS (SELECT p.qid, p.qv, m.vec_id AS nn, m.v AS mv, f.rv
      FROM probes p JOIN celln m ON m.cell = p.cell AND m.vec_id <> p.qid
      JOIN fullr f ON f.vec_id = m.vec_id
      WHERE m.crn <= ${Similarity.effectiveCap(Similarity.CandidateCap, 4)}),
    adc AS (SELECT qid, qv, nn, mv, list_dot_product(qv, rv) /
        (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(rv, rv))) AS adc
      FROM cand),
    sl AS (SELECT qid, qv, nn, mv FROM (
        SELECT qid, qv, nn, mv, row_number() OVER (PARTITION BY qid
          ORDER BY adc DESC, nn ASC) AS arn FROM adc) z
      WHERE arn <= 40),
    ex AS (SELECT qid, nn, list_dot_product(qv, mv) /
        (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(mv, mv))) AS cos
      FROM sl),
    r AS (SELECT qid, nn, cos, CAST(row_number() OVER (PARTITION BY qid
      ORDER BY cos DESC, nn ASC) AS INTEGER) AS rank FROM ex)
    SELECT qid, nn, rank, round(cos, 6) AS cos FROM r WHERE rank <= 10"""
  }

  /** Spark side of the residual rungs, shared by the m=4 and m=8
    * declared queries — same trained centroids, per-m residual books
    * under the fingerprint cache discipline. */
  private def residualIvfPqQuery(m: Int, nCodes: Int = 16)(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val emb = t(s, d, "embeddings")
    val cents = trainedCentroids(emb, d)
    // per-m residual books (r16: the 16-bit m=4 rung and the 32-bit
    // m=8 rung train distinct books)
    val books = FrameCache.value(s"resid-pq-${m}x$nCodes", embeddings(d))(
      Similarity.trainResidualPqCodebooks(
        emb, "vec_id", "embedding", cents, m, nCodes, 256))
    Similarity.ivfPqResidualTopKWith(emb, "vec_id", "embedding", cents,
      books, 4, Seq(0L, 1L, 2L, 3L, 4L), 10, overfetch = 4)
      .select(col("qid"), col("nn"), col("rank"), round(col("cos"), 6).as("cos"))
  }

  def queries: Seq[Q] = Seq(

    // exact dedup: hash-groupBy on content (one shuffle at any scale)
    Q("dedup_exact",
      (s, d) => t(s, d, "documents").groupBy(col("text"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
        .select(col("keeper"), col("n_copies")),
      Some("""SELECT CAST(min(doc_id) AS BIGINT) AS keeper,
        CAST(count(*) AS BIGINT) AS n_copies FROM documents GROUP BY text""")),

    // exact n-gram Jaccard via shingle inverted-index join, df-capped:
    // shingles in > JaccardMaxDf docs are stop-shingles dropped BEFORE
    // the self-join (they cost O(df²) pairs and carry no signal)
    Q("dedup_ngram_jaccard",
      (s, d) => Dedup.jaccardPairs(t(s, d, "documents"), "doc_id", "text", 3,
          shingles = Some(docShingles3(s, d)))
        .filter(col("inter") / (col("sz1") + col("sz2") - col("inter")) >= 0.22)
        .select(col("d1"), col("d2"), col("inter"), col("sz1"), col("sz2")),
      Some(s"""WITH sh0 AS (SELECT DISTINCT doc_id, ${sqlMd5Hash32("sh")} AS sh
          FROM ($sqlShingles3) raw),
        sh AS (SELECT doc_id, sh FROM (SELECT doc_id, sh,
            count(*) OVER (PARTITION BY sh) AS df FROM sh0) f
          WHERE df <= ${Dedup.JaccardMaxDf}),
        sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY doc_id),
        pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(count(*) AS BIGINT) AS inter
          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id)
        SELECT d1, d2, inter, sa.sz AS sz1, sb.sz AS sz2
        FROM pairs JOIN sizes sa ON sa.doc_id = d1 JOIN sizes sb ON sb.doc_id = d2
        WHERE inter / CAST(sa.sz + sb.sz - inter AS DOUBLE) >= 0.22""")),

    // ✚ containment pairs (round 12): Broder's OTHER similarity —
    // containment c(d1→d2) = |S1 ∩ S2|/|S1| catches a small doc
    // embedded in a big one, which resemblance (Jaccard) dilutes
    // toward 0; same df-capped shingle machinery, two extra rounded
    // divisions per surviving pair.
    Q("dedup_containment",
      (s, d) => Dedup.jaccardPairs(t(s, d, "documents"), "doc_id", "text", 3,
          shingles = Some(docShingles3(s, d)))
        .select(col("d1"), col("d2"), col("inter"), col("sz1"), col("sz2"),
          round(col("inter") / col("sz1"), 6).as("c1"),
          round(col("inter") / col("sz2"), 6).as("c2"))
        .filter(greatest(col("c1"), col("c2")) >= 0.5),
      Some(s"""WITH sh0 AS (SELECT DISTINCT doc_id, ${sqlMd5Hash32("sh")} AS sh
          FROM ($sqlShingles3) raw),
        sh AS (SELECT doc_id, sh FROM (SELECT doc_id, sh,
            count(*) OVER (PARTITION BY sh) AS df FROM sh0) f
          WHERE df <= ${Dedup.JaccardMaxDf}),
        sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY doc_id),
        pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(count(*) AS BIGINT) AS inter
          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id),
        sc AS (SELECT d1, d2, inter, sa.sz AS sz1, sb.sz AS sz2,
            ROUND(inter / CAST(sa.sz AS DOUBLE), 6) AS c1,
            ROUND(inter / CAST(sb.sz AS DOUBLE), 6) AS c2
          FROM pairs JOIN sizes sa ON sa.doc_id = d1 JOIN sizes sb ON sb.doc_id = d2)
        SELECT * FROM sc WHERE GREATEST(c1, c2) >= 0.5""")),

    // benchmark decontamination (Pipeline.decontaminate): corpus docs
    // sharing any 8-gram with the held-out source (src0 stands in for
    // the benchmark) are flagged — one semi-join on the shingle hash
    Q("pipeline_decontaminate",
      (s, d) => {
        val docs = t(s, d, "documents")
        Pipeline.decontaminate(
          docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"),
          "doc_id", "text", 8)
      },
      Some("""WITH sh AS (SELECT doc_id, source,
          unnest(list_transform(generate_series(1, len(tk) - 7),
            i -> array_to_string(tk[i:i+7], ' '))) AS sh
          FROM (SELECT doc_id, source, string_split(text, ' ') AS tk FROM documents) t
          WHERE len(tk) >= 8),
        ev AS (SELECT DISTINCT sh FROM sh WHERE source = 'src0')
        SELECT DISTINCT doc_id FROM sh
        WHERE source <> 'src0' AND sh IN (SELECT sh FROM ev)""")),

    // SEMANTIC decontamination (Pipeline.decontaminateSemantic): flag
    // corpus vectors within cosine tau of ANY benchmark vector — the
    // paraphrase-contamination complement of the shingle pass. Exact
    // (recall-1) by design: benchmark side broadcast, one corpus scan.
    // vec_id % 23 == 0 stands in for the held-out benchmark set.
    Q("pipeline_decontaminate_semantic",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Pipeline.decontaminateSemantic(
          emb.filter(col("vec_id") % 23 =!= 0),
          emb.filter(col("vec_id") % 23 === 0),
          "vec_id", "embedding", SemDecontamTau)
      },
      Some(s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        b AS (SELECT v AS bv FROM v WHERE vec_id % 23 = 0),
        c AS (SELECT vec_id AS cid, v AS cv FROM v WHERE vec_id % 23 <> 0),
        j AS (SELECT cid, list_dot_product(cv, bv) /
            (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(bv, bv))) AS cos
          FROM c CROSS JOIN b)
        SELECT cid, round(max(cos), 6) AS max_cos, CAST(count(*) AS BIGINT) AS n_hits
        FROM j WHERE cos >= $SemDecontamTau GROUP BY cid""")),

    // cluster-balanced sampling (Pipeline.clusterBalance): nearest-
    // centroid cell assignment (8 sampled centroids, same quantizer as
    // sim_ivf_topk), then keep the min-cell-size smallest-salted-hash
    // rows per cell — the embedding-space data-mixing primitive
    Q("pipeline_cluster_balance",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        // config-sized centroid table (8 × dim), same discipline as ivfTopK
        val cents = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
          .filter(col("vec_id") < 8).collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
        Pipeline.clusterBalance(emb, "vec_id", "embedding", cents, "graft_bal_")
      },
      Some(s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        c AS (SELECT vec_id AS cid, v AS cv FROM v WHERE vec_id < 8),
        sc AS (SELECT vec_id, cid, list_dot_product(v.v, cv) /
            (sqrt(list_dot_product(v.v, v.v)) * sqrt(list_dot_product(cv, cv))) AS ccos
          FROM v CROSS JOIN c),
        cell AS (SELECT vec_id, cid AS cell FROM (
            SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
              ORDER BY ccos DESC, cid ASC) AS rn FROM sc) z WHERE rn = 1),
        tgt AS (SELECT CAST(min(csz) AS BIGINT) AS target FROM (
            SELECT cell, count(*) AS csz FROM cell GROUP BY cell) zz),
        rnk AS (SELECT vec_id, cell, CAST(row_number() OVER (PARTITION BY cell
            ORDER BY ${sqlMd5Hash32("'graft_bal_' || CAST(vec_id AS VARCHAR)")} ASC,
              vec_id ASC) AS INTEGER) AS rn FROM cell)
        SELECT vec_id, cell, rn, target FROM rnk CROSS JOIN tgt
        WHERE rn <= target""")),

    // MinHash + LSH banding candidates (16 perms, 4 bands × 4 rows)
    Q("dedup_minhash",
      (s, d) => {
        val sigs = Dedup.minhashSignatures(t(s, d, "documents"), "doc_id", "text", 16)
        Dedup.minhashCandidates(sigs, "doc_id", 16, 4)
      },
      Some(s"""WITH $sqlMinhashBandedCtes
        SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2 FROM banded a
        JOIN banded b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id""")),

    // end-to-end near-dup REMOVAL (greedy keep-smallest-id): drop every
    // document that LSH-collides with a smaller-id document — the
    // operator a prep pipeline actually chains after candidate
    // generation (one extra anti-join over dedup_minhash's plan)
    Q("pipeline_neardup",
      (s, d) => {
        val docs = t(s, d, "documents")
        val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", 16)
        // star edges, not the all-pairs clique: the dropped set (docs
        // with a SMALLER collider) is identical, and the ×100 probe
        // showed the clique going quadratic on duplicate-heavy input
        // (minhashStarEdges scaladoc)
        val cands = Dedup.minhashStarEdges(sigs, "doc_id", 16, 4)
        docs.join(cands.select(col("d2").as("doc_id")).distinct(),
            Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("lang"))
      },
      Some(s"""WITH $sqlMinhashBandedCtes,
        cand AS (SELECT DISTINCT d2 FROM (
          SELECT min(doc_id) OVER (PARTITION BY band, sig) AS d1, doc_id AS d2
          FROM banded) z WHERE d1 < d2)
        SELECT doc_id, lang FROM documents
        WHERE doc_id NOT IN (SELECT d2 FROM cand)""")),

    // ✚ INCREMENTAL near-dup — the arrival-time serving shape: a batch
    // (source 'src19' plays the arriving shard) is deduplicated against
    // the RESIDENT corpus through a persisted banded-signature index
    // (Dedup.residentBandIndex: built once, range-partitioned + sorted
    // on (band, sig), atomically published), plus the within-batch star
    // rule. The resident corpus is never re-hashed at arrival time —
    // at 100 TB the per-batch cost is O(batch), not O(corpus), which
    // is the difference between a pipeline that can ingest continuously
    // and one that re-pays its largest job per shard. The oracle
    // recomputes both sides from scratch (caching is invisible to
    // results — that is the point).
    Q("dedup_incremental",
      (s, d) => {
        val docs = t(s, d, "documents")
        val batch = docs.filter(col("source") === "src19")
        val idx = Dedup.residentBandIndex(s, "target/graft-sigidx",
          s"mh16x4-${docFingerprint(d)}",
          docs.filter(col("source") =!= "src19"), "doc_id", "text", 16, 4)
        Dedup.incrementalKeep(idx, batch, "doc_id", "text", 16, 4)
          .select(col("doc_id"), col("lang"))
      },
      Some(s"""WITH $sqlMinhashBandedCtes,
        bb AS (SELECT b.* FROM banded b JOIN documents d USING (doc_id)
          WHERE d.source = 'src19'),
        rb AS (SELECT b.* FROM banded b JOIN documents d USING (doc_id)
          WHERE d.source <> 'src19'),
        hit AS (SELECT DISTINCT bb.doc_id FROM bb
          JOIN rb ON rb.band = bb.band AND rb.sig = bb.sig),
        intra AS (SELECT DISTINCT d2 FROM (
          SELECT min(doc_id) OVER (PARTITION BY band, sig) AS d1, doc_id AS d2
          FROM bb) z WHERE d1 < d2)
        SELECT doc_id, lang FROM documents
        WHERE source = 'src19' AND doc_id NOT IN (SELECT doc_id FROM hit)
          AND doc_id NOT IN (SELECT d2 FROM intra)""")),

    // ✚ FUZZY decontamination: the exact 8-gram probe above misses a
    // paraphrased benchmark leak; this variant flags corpus docs whose
    // MinHash bands collide with ANY eval-set doc (the same signatures
    // the near-dup family compiles) — one cross-set equi-join on
    // (band, sig), eval side tiny, never all-pairs. Over-flagging is
    // the safe direction, exactly like the exact probe.
    Q("pipeline_decontaminate_fuzzy",
      (s, d) => {
        val docs = t(s, d, "documents")
        val corpus = docs.filter(col("source") =!= "src0")
        val evalSet = docs.filter(col("source") === "src0")
        val cb = Dedup.bandedSignatures(
          Dedup.minhashSignatures(corpus, "doc_id", "text", 16), "doc_id", 16, 4)
        val eb = Dedup.bandedSignatures(
          Dedup.minhashSignatures(evalSet, "doc_id", "text", 16), "doc_id", 16, 4)
        cb.join(eb.select("band", "sig"), Seq("band", "sig"), "left_semi")
          .select(col("doc_id")).distinct()
          .join(corpus.select(col("doc_id"), col("lang")), Seq("doc_id"))
      },
      Some(s"""WITH $sqlMinhashBandedCtes,
        flagged AS (SELECT DISTINCT a.doc_id FROM banded a
          JOIN documents da ON da.doc_id = a.doc_id AND da.source <> 'src0'
          JOIN banded b ON b.band = a.band AND b.sig = a.sig
          JOIN documents db ON db.doc_id = b.doc_id AND db.source = 'src0')
        SELECT f.doc_id, d.lang FROM flagged f JOIN documents d USING (doc_id)""")),

    // ✚ dedup-GROUP resolution: pipeline_neardup's greedy drop is
    // pairwise (B collides with A ⇒ drop B), but real cluster dedup is
    // transitive — A~B, B~C puts all three in ONE group even when A,C
    // never collide directly. Candidate pairs become an undirected
    // graph; GraphX connected components (min-id canonical
    // representative) resolve each doc to its group keeper. Oracle:
    // the same pairs closed transitively by a recursive CTE. Scale:
    // CC is the Pregel min-propagation loop — group diameter
    // iterations over the PAIR graph only, never the corpus.
    Q("pipeline_dedup_groups",
      (s, d) => {
        val docs = t(s, d, "documents")
        val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", 16)
        // star edges per bucket — SAME connected components as the
        // all-pairs clique at O(members) instead of O(members²) edges;
        // the ×100 probe measured the clique at 30× wall (quadratic in
        // duplicate multiplicity, the exact corpus dedup runs on)
        val cands = Dedup.minhashStarEdges(sigs, "doc_id", 16, 4)
        val comp = graft.graphx.GraphXBridge.componentsOfPairs(s,
          cands.select(col("d1").as("src"), col("d2").as("dst")))
        docs.join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("component"), col("doc_id")).as("keeper"),
            (coalesce(col("component"), col("doc_id")) === col("doc_id")).as("kept"))
      },
      Some(s"""WITH RECURSIVE $sqlMinhashBandedCtes,
        cand AS (SELECT DISTINCT d1, d2 FROM (
          SELECT min(doc_id) OVER (PARTITION BY band, sig) AS d1, doc_id AS d2
          FROM banded) z WHERE d1 < d2),
        e AS (SELECT d1 AS s, d2 AS t FROM cand UNION SELECT d2, d1 FROM cand),
        reach(node, r) AS (
          SELECT DISTINCT s, s FROM e
          UNION
          SELECT e.t, reach.r FROM e JOIN reach ON e.s = reach.node),
        comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node)
        SELECT d.doc_id,
          coalesce(c.component, d.doc_id) AS keeper,
          coalesce(c.component, d.doc_id) = d.doc_id AS kept
        FROM documents d LEFT JOIN comp c ON c.node = d.doc_id""")),

    // ✚ n-gram novelty scoring (Pipeline.noveltyScore): fraction of a
    // doc's 4-gram POSITIONS absent from the src0 reference — the
    // memorization/novelty metric; misses are the signal, so the
    // reference set left-joins and the nulls count.
    Q("text_novelty",
      (s, d) => {
        val docs = t(s, d, "documents")
        Pipeline.noveltyScore(
          docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"),
          "doc_id", "text", 4)
      },
      Some(s"""WITH sh AS (SELECT doc_id, source, ${sqlMd5Hash32("shv")} AS sh
          FROM (SELECT doc_id, source,
            unnest(list_transform(generate_series(1, len(tk) - 3),
              i -> array_to_string(tk[i:i+3], ' '))) AS shv
            FROM (SELECT doc_id, source, string_split(text, ' ') AS tk
              FROM documents) t
            WHERE len(tk) >= 4) raw),
        ref AS (SELECT DISTINCT sh FROM sh WHERE source = 'src0'),
        c AS (SELECT doc_id, s.sh, CASE WHEN ref.sh IS NULL THEN 0 ELSE 1 END AS hit
          FROM sh s LEFT JOIN ref ON s.sh = ref.sh WHERE s.source <> 'src0'),
        g AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
          CAST(sum(hit) AS BIGINT) AS n_seen FROM c GROUP BY doc_id)
        SELECT d.doc_id, coalesce(g.n_grams, 0) AS n_grams,
          coalesce(g.n_seen, 0) AS n_seen,
          CASE WHEN coalesce(g.n_grams, 0) = 0 THEN NULL
            ELSE round(1.0 - CAST(n_seen AS DOUBLE) / n_grams, 6) END AS novelty
        FROM (SELECT doc_id FROM documents WHERE source <> 'src0') d
        LEFT JOIN g ON g.doc_id = d.doc_id""")),

    // ✚ corpus snapshot diff (Pipeline.corpusDiff): added / removed /
    // changed / unchanged across two versions, bodies compared by md5
    // so only (id, hash) pairs shuffle. The two "versions" derive
    // deterministically from the fixture: % 11 ids absent from old,
    // % 13 absent from new, % 17 texts edited in new.
    Q("pipeline_corpus_diff",
      (s, d) => {
        val docs = t(s, d, "documents")
        Pipeline.corpusDiff(
          docs.filter(col("doc_id") % 11 =!= 0),
          docs.filter(col("doc_id") % 13 =!= 0)
            .withColumn("text", when(col("doc_id") % 17 === 0,
              concat(col("text"), lit(" v2"))).otherwise(col("text"))),
          "doc_id", "text")
      },
      Some("""WITH old AS (SELECT doc_id, md5(text) AS h_old, 1 AS in_old FROM documents
          WHERE doc_id % 11 <> 0),
        new AS (SELECT doc_id, md5(CASE WHEN doc_id % 17 = 0
            THEN text || ' v2' ELSE text END) AS h_new, 1 AS in_new FROM documents
          WHERE doc_id % 13 <> 0)
        SELECT coalesce(old.doc_id, new.doc_id) AS doc_id,
          CASE WHEN in_old IS NULL THEN 'added'
            WHEN in_new IS NULL THEN 'removed'
            WHEN h_old IS NOT DISTINCT FROM h_new THEN 'unchanged'
            ELSE 'changed' END AS status
        FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id""")),

    // ✚ duplication profile (the dedup-groups DECISION input): how
    // many near-dup groups of each size, and how many docs they hold —
    // the histogram a pipeline reads before choosing dedup
    // aggressiveness (keep-one removes n_docs − n_groups docs). Same
    // component machinery/oracle as pipeline_dedup_groups; the
    // histogram is two group-sized aggs.
    Q("pipeline_dedup_stats",
      (s, d) => {
        val docs = t(s, d, "documents")
        val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", 16)
        val cands = Dedup.minhashStarEdges(sigs, "doc_id", 16, 4)
        val comp = graft.graphx.GraphXBridge.componentsOfPairs(s,
          cands.select(col("d1").as("src"), col("d2").as("dst")))
        docs.join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
          .select(coalesce(col("component"), col("doc_id")).as("grp"))
          .groupBy(col("grp")).agg(count(lit(1)).as("group_size"))
          .groupBy(col("group_size"))
          .agg(count(lit(1)).as("n_groups"),
            (count(lit(1)) * col("group_size")).as("n_docs"))
      },
      Some(s"""WITH RECURSIVE $sqlMinhashBandedCtes,
        cand AS (SELECT DISTINCT d1, d2 FROM (
          SELECT min(doc_id) OVER (PARTITION BY band, sig) AS d1, doc_id AS d2
          FROM banded) z WHERE d1 < d2),
        e AS (SELECT d1 AS s, d2 AS t FROM cand UNION SELECT d2, d1 FROM cand),
        reach(node, r) AS (
          SELECT DISTINCT s, s FROM e
          UNION
          SELECT e.t, reach.r FROM e JOIN reach ON e.s = reach.node),
        comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
        g AS (SELECT coalesce(c.component, d.doc_id) AS grp
          FROM documents d LEFT JOIN comp c ON c.node = d.doc_id),
        sz AS (SELECT grp, CAST(count(*) AS BIGINT) AS group_size
          FROM g GROUP BY grp)
        SELECT group_size, CAST(count(*) AS BIGINT) AS n_groups,
          CAST(count(*) * group_size AS BIGINT) AS n_docs
        FROM sz GROUP BY group_size""")),

    // ✚ leakage-free train/eval split (Pipeline.splitLeakFree): split
    // on near-dup GROUPS, never documents — a group routes whole by
    // the salted md5 of its component id, so no near-dup pair ever
    // straddles the cut. Same component machinery (and oracle CTEs)
    // as pipeline_dedup_groups.
    Q("pipeline_split_leakfree",
      (s, d) => Pipeline.splitLeakFree(t(s, d, "documents"), "doc_id", "text",
        16, 4, 10, "graft_split_"),
      Some(s"""WITH RECURSIVE $sqlMinhashBandedCtes,
        cand AS (SELECT DISTINCT d1, d2 FROM (
          SELECT min(doc_id) OVER (PARTITION BY band, sig) AS d1, doc_id AS d2
          FROM banded) z WHERE d1 < d2),
        e AS (SELECT d1 AS s, d2 AS t FROM cand UNION SELECT d2, d1 FROM cand),
        reach(node, r) AS (
          SELECT DISTINCT s, s FROM e
          UNION
          SELECT e.t, reach.r FROM e JOIN reach ON e.s = reach.node),
        comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
        g AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS grp
          FROM documents d LEFT JOIN comp c ON c.node = d.doc_id)
        SELECT doc_id, grp AS "group",
          CASE WHEN ${sqlMd5Hash32("'graft_split_' || CAST(grp AS VARCHAR)")} % 100 < 10
            THEN 'eval' ELSE 'train' END AS split
        FROM g""")),

    // ✚ quality-aware canonical selection (Dedup.keepBest): within each
    // transitive LSH group keep the LONGEST member (ties → smallest id)
    // instead of the smallest id — one group-keyed partial-agg argmax
    // joined back; the oracle replays components + the two-step argmax
    Q("pipeline_dedup_keep_best",
      (s, d) => Dedup.keepBest(t(s, d, "documents"), "doc_id", "text", 16, 4),
      Some(s"""WITH RECURSIVE $sqlMinhashBandedCtes,
        cand AS (SELECT DISTINCT d1, d2 FROM (
          SELECT min(doc_id) OVER (PARTITION BY band, sig) AS d1, doc_id AS d2
          FROM banded) z WHERE d1 < d2),
        e AS (SELECT d1 AS s, d2 AS t FROM cand UNION SELECT d2, d1 FROM cand),
        reach(node, r) AS (
          SELECT DISTINCT s, s FROM e
          UNION
          SELECT e.t, reach.r FROM e JOIN reach ON e.s = reach.node),
        comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
        g AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS grp,
            len(string_split(d.text, ' ')) AS n_tokens
          FROM documents d LEFT JOIN comp c ON c.node = d.doc_id),
        b AS (SELECT grp, max(n_tokens) AS bn FROM g GROUP BY grp),
        k AS (SELECT g.grp, min(g.doc_id) AS kid FROM g JOIN b USING (grp)
          WHERE g.n_tokens = b.bn GROUP BY g.grp)
        SELECT g.doc_id, g.grp, g.doc_id = k.kid AS kept
        FROM g JOIN k USING (grp)""")),

    // SimHash 60-bit signatures + hamming ≤ 3 pairs via 15-bit chunks
    Q("dedup_simhash",
      (s, d) => Dedup.simhashPairs(
        Dedup.simhash(t(s, d, "documents"), "doc_id", "text"), "doc_id", 3),
      Some {
        val cnts = (0 until Dedup.SimBits)
          .map(i => s"SUM((h >> $i) & 1) AS c$i").mkString(", ")
        val bits = (0 until Dedup.SimBits)
          .map(i => s"CASE WHEN c$i * 2 > n THEN CAST(${1L << i} AS BIGINT) ELSE 0 END")
          .mkString(" + ")
        val chunks = (0 until 4)
          .map(b => s"SELECT doc_id, simhash, $b AS band, (simhash >> ${b * 15}) & 32767 AS chunk FROM sim")
          .mkString(" UNION ALL ")
        s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents),
          hs AS (SELECT doc_id, ${sqlMd5Hash60("tk")} AS h FROM tok),
          cnt AS (SELECT doc_id, $cnts, CAST(count(*) AS BIGINT) AS n FROM hs GROUP BY doc_id),
          sim AS (SELECT doc_id, $bits AS simhash FROM cnt),
          banded AS ($chunks),
          pairs AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
            CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
            FROM banded a JOIN banded b
            ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
          SELECT d1, d2, hamming FROM pairs WHERE hamming <= 3"""
      }),

    // embedding near-dup: exact cosine within a blocking key (label)
    Q("dedup_embedding",
      (s, d) => {
        // per-row norm hoist: same dot/(n1·n2) IEEE tree as cosine(),
        // but norms compute once per vector instead of once per pair
        val v = t(s, d, "embeddings")
          .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
          .withColumn("n", Similarity.norm(col("v")))
        val a = v.select(col("label"), col("vec_id").as("d1"), col("v").as("v1"), col("n").as("n1"))
        val b = v.select(col("label"), col("vec_id").as("d2"), col("v").as("v2"), col("n").as("n2"))
        a.join(b, Seq("label")).filter(col("d1") < col("d2"))
          .withColumn("cos", Similarity.dot(col("v1"), col("v2")) / (col("n1") * col("n2")))
          .filter(col("cos") >= 0.35)
          .select(col("label"), col("d1"), col("d2"), round(col("cos"), 6).as("cos"))
      },
      Some("""WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        SELECT a.label, a.vec_id AS d1, b.vec_id AS d2,
          round(list_dot_product(a.v, b.v) /
            (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
        FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE list_dot_product(a.v, b.v) /
          (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.35""")),

    // embedding near-dup SCALE path (Dedup.embeddingNeardupLsh): pairs
    // sharing a bucket in any of 4 independent 4-plane LSH tables,
    // exact-cosine re-rank ≥ 0.35, per-bucket candidate cap — the
    // approximate complement of dedup_embedding's exact blocked pass
    // (recall measured in BASELINE.md #17)
    Q("dedup_embedding_lsh",
      (s, d) => Dedup.embeddingNeardupLsh(t(s, d, "embeddings"), "vec_id", "embedding",
        64, 4, 4, 0.35),
      Some {
        val tableRows = (0 until 4).map { tt =>
          val bits = (0 until 4).map { i =>
            val plane = (0 until 64).map(j =>
              s"${Similarity.planeSign(tt * 4 + i, j)}.0").mkString(",")
            s"CASE WHEN list_dot_product(v, [$plane]::DOUBLE[]) > 0 THEN CAST(${1L << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
          }.mkString(" + ")
          s"SELECT vec_id, v, $tt AS tbl, $bits AS bucket FROM v"
        }.mkString(" UNION ALL ")
        s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          banded AS ($tableRows),
          bn AS (SELECT vec_id, v, tbl, bucket, row_number() OVER (
              PARTITION BY tbl, bucket ORDER BY vec_id ASC) AS crn FROM banded),
          cand AS (SELECT a.vec_id AS d1, c.vec_id AS d2,
              list_dot_product(a.v, c.v) /
                (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
            FROM banded a JOIN bn c ON a.tbl = c.tbl AND a.bucket = c.bucket
              AND a.vec_id < c.vec_id
            WHERE c.crn <= ${Similarity.CandidateCap})
          SELECT DISTINCT d1, d2, round(cos, 6) AS cos FROM cand WHERE cos >= 0.35"""
      }),

    // ✚ cross-corpus LSH similarity JOIN (Dedup.crossSimilarityJoin):
    // all (left, right) pairs at cosine ≥ τ where NEITHER side
    // broadcasts — both sides bucket through the SAME hyperplane
    // tables, equi-join on (table, bucket), right side capped per
    // bucket, exact re-rank. Even/odd vec_ids stand in for the two
    // corpora; the oracle replays the tables bit-for-bit.
    Q("sim_cross_join",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Dedup.crossSimilarityJoin(
          emb.filter(col("vec_id") % 2 === 0),
          emb.filter(col("vec_id") % 2 === 1),
          "vec_id", "embedding", 64, 4, 4, 0.30)
      },
      Some {
        val tableRows = (0 until 4).map { tt =>
          val bits = (0 until 4).map { i =>
            val plane = (0 until 64).map(j =>
              s"${Similarity.planeSign(tt * 4 + i, j)}.0").mkString(",")
            s"CASE WHEN list_dot_product(v, [$plane]::DOUBLE[]) > 0 THEN CAST(${1L << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
          }.mkString(" + ")
          s"SELECT vec_id, v, $tt AS tbl, $bits AS bucket FROM v"
        }.mkString(" UNION ALL ")
        s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          banded AS ($tableRows),
          l AS (SELECT vec_id AS lid, v, tbl, bucket FROM banded WHERE vec_id % 2 = 0),
          rn AS (SELECT vec_id, v, tbl, bucket, row_number() OVER (
              PARTITION BY tbl, bucket ORDER BY vec_id ASC) AS crn
            FROM banded WHERE vec_id % 2 = 1),
          cand AS (SELECT l.lid, rn.vec_id AS rid,
              list_dot_product(l.v, rn.v) /
                (sqrt(list_dot_product(l.v, l.v)) * sqrt(list_dot_product(rn.v, rn.v))) AS cos
            FROM l JOIN rn ON l.tbl = rn.tbl AND l.bucket = rn.bucket
            WHERE rn.crn <= ${Similarity.CandidateCap})
          SELECT DISTINCT lid, rid, round(cos, 6) AS cos FROM cand WHERE cos >= 0.30"""
      }),

    // ✚ SemDeDup-style semantic near-dup (Dedup.semanticNeardup):
    // embedding dedup blocked by the IVF coarse quantizer — nearest-
    // centroid cells (same 8-centroid quantizer as cluster_balance),
    // exact cosine only WITHIN a cell, per-cell candidate cap. One
    // quantizer powers search (sim_ivf_topk), balancing
    // (pipeline_cluster_balance), AND dedup — the SemDeDup shape.
    Q("dedup_semantic",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val cents = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
          .filter(col("vec_id") < 8).collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
        Dedup.semanticNeardup(emb, "vec_id", "embedding", cents, SemDedupTau)
      },
      Some(s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        c AS (SELECT vec_id AS cid, v AS cv FROM v WHERE vec_id < 8),
        sc AS (SELECT vec_id, cid, list_dot_product(v.v, cv) /
            (sqrt(list_dot_product(v.v, v.v)) * sqrt(list_dot_product(cv, cv))) AS ccos
          FROM v CROSS JOIN c),
        cell AS (SELECT z.vec_id, v.v AS v, z.cell FROM (
            SELECT vec_id, cid AS cell, row_number() OVER (PARTITION BY vec_id
              ORDER BY ccos DESC, cid ASC) AS rn FROM sc) z
          JOIN v ON v.vec_id = z.vec_id WHERE z.rn = 1),
        cn AS (SELECT vec_id, v, cell, row_number() OVER (PARTITION BY cell
            ORDER BY vec_id ASC) AS crn FROM cell)
        SELECT a.cell, a.vec_id AS d1, b.vec_id AS d2,
          round(list_dot_product(a.v, b.v) /
            (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
        FROM cell a JOIN cn b ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE b.crn <= ${Similarity.CandidateCap}
          AND list_dot_product(a.v, b.v) /
            (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= $SemDedupTau""")),

    // ✚ duplicate-PASSAGE extraction (Dedup.duplicateSpans): maximal
    // token spans of ≥2-occurrence 16-token windows — span-granularity
    // dedup (boilerplate scrubbing) where whole-doc dedup keeps or
    // drops everything. One window-count shuffle on the hash + doc-
    // sized gaps-and-islands merge; no pair join anywhere.
    Q("dedup_spans",
      (s, d) => Dedup.duplicateSpans(t(s, d, "documents"), "doc_id", "text",
        SpanWindow, windows = Some(docSpanWindows(s, d))),
      Some(s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        w0 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - ${SpanWindow - 1}),
            i -> {'pos': i - 1, 'sh': array_to_string(tk[i:i+${SpanWindow - 1}], ' ')})) AS u
          FROM tk WHERE len(tk) >= $SpanWindow),
        w AS (SELECT doc_id, u.pos AS pos, ${sqlHexFold("md5(u.sh)", 8)} AS h FROM w0),
        f AS (SELECT doc_id, pos FROM (SELECT doc_id, pos,
            count(*) OVER (PARTITION BY h) AS df FROM w) z WHERE df >= 2),
        b AS (SELECT doc_id, pos, CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id
            ORDER BY pos) <= $SpanWindow THEN 0 ELSE 1 END AS brk FROM f),
        isl AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
            ROWS UNBOUNDED PRECEDING) AS island FROM b)
        SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
          CAST(max(pos) + ${SpanWindow - 1} AS BIGINT) AS span_end,
          count(*) AS n_windows
        FROM isl GROUP BY doc_id, island""")),

    // ✚ boilerplate discovery (round 12): WHAT the repeated passages
    // ARE — top repeated windows by corpus position count, with
    // distinct-doc reach; one gram aggregate + TakeOrdered top-k
    Q("text_boilerplate_top",
      (s, d) => TextOps.boilerplateTop(t(s, d, "documents"), "doc_id", "text",
        SpanWindow, 20),
      Some(s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        w0 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - ${SpanWindow - 1}),
            i -> array_to_string(tk[i:i+${SpanWindow - 1}], ' '))) AS gram
          FROM tk WHERE len(tk) >= $SpanWindow)
        SELECT gram, count(*) AS n_positions,
          CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM w0 GROUP BY gram HAVING count(*) >= 2
        ORDER BY n_positions DESC, gram ASC LIMIT 20""")),

    // ✚ df-capped span report (round 12, VERDICT r11 order #9): the
    // recall/volume knob — window hashes repeated in more than
    // SpanMaxDf positions are boilerplate beyond reporting interest and
    // leave BEFORE the island merge (the jaccard/winnow df-cap
    // discipline at span granularity). SpanMaxDf = 2 binds on this
    // corpus (63 hashes carry df = 3), so the capped result genuinely
    // differs from dedup_spans.
    Q("dedup_spans_capped",
      (s, d) => Dedup.duplicateSpans(t(s, d, "documents"), "doc_id", "text",
        SpanWindow, SpanMaxDf, windows = Some(docSpanWindows(s, d))),
      Some(s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        w0 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - ${SpanWindow - 1}),
            i -> {'pos': i - 1, 'sh': array_to_string(tk[i:i+${SpanWindow - 1}], ' ')})) AS u
          FROM tk WHERE len(tk) >= $SpanWindow),
        w AS (SELECT doc_id, u.pos AS pos, ${sqlHexFold("md5(u.sh)", 8)} AS h FROM w0),
        f AS (SELECT doc_id, pos FROM (SELECT doc_id, pos,
            count(*) OVER (PARTITION BY h) AS df FROM w) z
          WHERE df >= 2 AND df <= $SpanMaxDf),
        b AS (SELECT doc_id, pos, CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id
            ORDER BY pos) <= $SpanWindow THEN 0 ELSE 1 END AS brk FROM f),
        isl AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
            ROWS UNBOUNDED PRECEDING) AS island FROM b)
        SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
          CAST(max(pos) + ${SpanWindow - 1} AS BIGINT) AS span_end,
          count(*) AS n_windows
        FROM isl GROUP BY doc_id, island""")),

    // ✚ span SCRUB — the apply side of dedup_spans: cut every repeated
    // passage except its corpus-globally first occurrence (smallest
    // (doc, pos) per window hash keeps), re-join the surviving tokens.
    // The removal rule a substring-dedup pipeline actually applies.
    Q("dedup_spans_scrub",
      (s, d) => Dedup.scrubSpans(t(s, d, "documents"), "doc_id", "text",
        SpanWindow, windows = Some(docSpanWindows(s, d))),
      Some(s"""WITH tk AS (SELECT doc_id, text, string_split(text, ' ') AS tk FROM documents),
        w0 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - ${SpanWindow - 1}),
            i -> {'pos': i - 1, 'sh': array_to_string(tk[i:i+${SpanWindow - 1}], ' ')})) AS u
          FROM tk WHERE len(tk) >= $SpanWindow),
        w AS (SELECT doc_id, u.pos AS pos, ${sqlHexFold("md5(u.sh)", 8)} AS h FROM w0),
        m AS (SELECT doc_id, pos, count(*) OVER (PARTITION BY h) AS df,
            row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn FROM w),
        f AS (SELECT doc_id, pos FROM m WHERE df >= 2 AND rn > 1),
        b AS (SELECT doc_id, pos, CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id
            ORDER BY pos) <= $SpanWindow THEN 0 ELSE 1 END AS brk FROM f),
        isl AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
            ROWS UNBOUNDED PRECEDING) AS island FROM b),
        sp AS (SELECT doc_id, min(pos) AS s, max(pos) + ${SpanWindow - 1} AS e
          FROM isl GROUP BY doc_id, island),
        spl AS (SELECT doc_id, list({'s': s, 'e': e}) AS spans FROM sp GROUP BY doc_id),
        cl AS (SELECT tk.doc_id, tk.text, tk.tk, spl.spans,
            list_filter(tk.tk, (x, i) -> NOT len(list_filter(spl.spans,
              q -> i - 1 >= q.s AND i - 1 <= q.e)) > 0) AS ck
          FROM tk LEFT JOIN spl ON spl.doc_id = tk.doc_id)
        SELECT doc_id,
          CASE WHEN spans IS NULL THEN text
            -- a fully-scrubbed doc: duckdb's array_to_string([]) is
            -- NULL where Spark's concat_ws is '' — pin the '' shape
            ELSE coalesce(array_to_string(ck, ' '), '') END AS clean_text,
          CAST(CASE WHEN spans IS NULL THEN 0
            ELSE len(tk) - len(ck) END AS BIGINT) AS n_removed
        FROM cl""")),

    // ✚ PARAGRAPH-level exact dedup (round 12, Dedup.paragraphDedup):
    // the C4/Dolma removal rule at natural text-unit granularity —
    // every newline paragraph keeps its corpus-globally first
    // occurrence, other copies are cut, docs survive. The corpus is
    // newline-free, so both sides first re-flow each doc into fixed
    // ParaTokens-token lines (same expression tree). One map-side-
    // combinable aggregate on the paragraph key; duplicates-only
    // rejoin; doc-sized reassembly.
    Q("dedup_paragraphs",
      (s, d) => {
        val tk = TextOps.tokens(col("text"))
        val reflow = concat_ws("\n",
          transform(sequence(lit(1), ceil(size(tk) / lit(20.0)).cast("int")),
            i => concat_ws(" ", slice(tk, (i - 1) * ParaTokens + 1, lit(ParaTokens)))))
        Dedup.paragraphDedup(
          t(s, d, "documents").select(col("doc_id"), reflow.as("text")),
          "doc_id", "text")
      },
      Some(s"""WITH d0 AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        rf AS (SELECT doc_id, list_transform(generate_series(1, CAST(ceil(len(tk)/20.0) AS BIGINT)),
            i -> array_to_string(tk[(i-1)*$ParaTokens+1:i*$ParaTokens], ' ')) AS ps FROM d0),
        p0 AS (SELECT doc_id, unnest(ps) AS para, generate_subscripts(ps, 1) AS pos FROM rf),
        p AS (SELECT doc_id, pos, para FROM p0 WHERE trim(para) <> ''),
        r AS (SELECT doc_id, pos, para,
            row_number() OVER (PARTITION BY trim(para) ORDER BY doc_id, pos) AS rn FROM p),
        a AS (SELECT doc_id,
            string_agg(para, chr(10) ORDER BY pos) FILTER (WHERE rn = 1) AS ct,
            count(*) FILTER (WHERE rn > 1) AS nr
          FROM r GROUP BY doc_id)
        SELECT d.doc_id, coalesce(a.ct, '') AS clean_text,
          CAST(coalesce(a.nr, 0) AS BIGINT) AS n_removed
        FROM d0 d LEFT JOIN a USING (doc_id)""")),

    // ✚ duplicate-COVERAGE metric (round 12, Dedup.spanCoverage): per
    // doc, the fraction of token positions covered by a corpus-repeated
    // window — the Lee-et-al. diagnostic that decides scrub-spans vs
    // drop-doc. Same windows/df aggregate as dedup_spans; the tail is
    // one sum over each doc's disjoint islands.
    Q("dedup_coverage",
      (s, d) => Dedup.spanCoverage(t(s, d, "documents"), "doc_id", "text",
        SpanWindow, windows = Some(docSpanWindows(s, d))),
      Some(s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        w0 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - ${SpanWindow - 1}),
            i -> {'pos': i - 1, 'sh': array_to_string(tk[i:i+${SpanWindow - 1}], ' ')})) AS u
          FROM tk WHERE len(tk) >= $SpanWindow),
        w AS (SELECT doc_id, u.pos AS pos, ${sqlHexFold("md5(u.sh)", 8)} AS h FROM w0),
        f AS (SELECT doc_id, pos FROM (SELECT doc_id, pos,
            count(*) OVER (PARTITION BY h) AS df FROM w) z WHERE df >= 2),
        b AS (SELECT doc_id, pos, CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id
            ORDER BY pos) <= $SpanWindow THEN 0 ELSE 1 END AS brk FROM f),
        isl AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
            ROWS UNBOUNDED PRECEDING) AS island FROM b),
        sp AS (SELECT doc_id, min(pos) AS s, max(pos) + ${SpanWindow - 1} AS e
          FROM isl GROUP BY doc_id, island),
        cv AS (SELECT doc_id, sum(e - s + 1) AS cov FROM sp GROUP BY doc_id)
        SELECT t.doc_id, CAST(len(t.tk) AS BIGINT) AS n_tokens,
          CAST(coalesce(cv.cov, 0) AS BIGINT) AS covered_tokens,
          round(CAST(coalesce(cv.cov, 0) AS DOUBLE) /
            greatest(len(t.tk), 1), 6) AS coverage
        FROM tk t LEFT JOIN cv ON cv.doc_id = t.doc_id""")),

    // ✚ Bloom-gated decontamination (Pipeline.decontaminateBloom): the
    // benchmark's shingle set folded into a 2^18-bit bloom bitmap that
    // rides inside ONE compiled membership kernel — map-only, no
    // broadcast hash relation, ~10 bits per benchmark shingle at
    // serving size. Over-flag only (the safe direction); the oracle
    // replays the bitmap's integer arithmetic exactly, false positives
    // included.
    // mBits = max(2^18 floor, benchmark-sized) — ADVICE r15: the fixed
    // 2^18 modulus saturated past the bloomWords fill>0.5 guard at the
    // ×10/×100 bench slices (the exact 0.8–0.89 fill the ×100 E2E
    // measured), turning a headline bench slot into a scale-dependent
    // throw. The floor keeps the query's small-SF modulus (and plan)
    // identical to its historical recording; the sized term takes over
    // exactly where the guard would have fired. The twin recomputes mb
    // with the same greatest().
    Q("pipeline_decontaminate_bloom",
      (s, d) => {
        val docs = t(s, d, "documents")
        val bench = docs.filter(col("source") === "src0")
        val mBits = math.max(BloomMBits,
          Pipeline.bloomBitsFor(bench, "text", 8))
        Pipeline.decontaminateBloom(
          docs.filter(col("source") =!= "src0"), bench,
          "doc_id", "text", 8, mBits, BloomK)
      },
      Some {
        val perms = Dedup.permParams(BloomK)
        val vals = perms.map { case (a, b) => s"($a,$b)" }.mkString(",")
        val conds = perms.map { case (a, b) =>
          s"(($a * hm + $b) % ${Dedup.P31}) % (SELECT mb FROM mbits) " +
            "IN (SELECT bit FROM bits)"
        }.mkString(" AND ")
        s"""WITH sh AS (SELECT doc_id, source, ${sqlHexFold("md5(shv)", 8)} AS h
            FROM (SELECT doc_id, source,
              unnest(list_transform(generate_series(1, len(tk) - 7),
                i -> array_to_string(tk[i:i+7], ' '))) AS shv
              FROM (SELECT doc_id, source, string_split(text, ' ') AS tk FROM documents) t
              WHERE len(tk) >= 8) raw),
          ev AS (SELECT DISTINCT h FROM sh WHERE source = 'src0'),
          mbits AS (SELECT greatest($BloomMBits,
            ((greatest(64, count(*) * 10) + 63) // 64) * 64) AS mb FROM ev),
          pm AS (SELECT * FROM (VALUES $vals) p(a, b)),
          bits AS (SELECT DISTINCT ((a * (h % ${Dedup.P31}) + b) % ${Dedup.P31})
              % (SELECT mb FROM mbits) AS bit FROM ev CROSS JOIN pm),
          cp AS (SELECT doc_id, h % ${Dedup.P31} AS hm FROM sh WHERE source <> 'src0')
          SELECT doc_id, count(*) AS n_hits FROM cp WHERE $conds GROUP BY doc_id"""
      }),

    // ✚ BENCHMARK-SIZED bloom decontamination (round 15): the same
    // gate with mBits derived from the benchmark itself
    // (Pipeline.bloomBitsFor — exact distinct-shingle count × 10
    // bits, word-aligned, floor 64). The ×100 E2E run proved a
    // hard-coded mBits is a silent kill switch at the first scale
    // jump; this query makes the CALIBRATION itself oracle-checked —
    // the DuckDB twin recomputes mb with the identical integer
    // arithmetic and uses it as the modulus, so a sizing drift of
    // even one word flips bit positions and the hash.
    Q("pipeline_decontaminate_bloom_sized",
      (s, d) => {
        val docs = t(s, d, "documents")
        val bench = docs.filter(col("source") === "src0")
        val mBits = Pipeline.bloomBitsFor(bench, "text", 8)
        Pipeline.decontaminateBloom(
          docs.filter(col("source") =!= "src0"), bench,
          "doc_id", "text", 8, mBits, BloomK)
      },
      Some {
        val perms = Dedup.permParams(BloomK)
        val vals = perms.map { case (a, b) => s"($a,$b)" }.mkString(",")
        val conds = perms.map { case (a, b) =>
          s"(($a * hm + $b) % ${Dedup.P31}) % (SELECT mb FROM mbits) " +
            "IN (SELECT bit FROM bits)"
        }.mkString(" AND ")
        s"""WITH sh AS (SELECT doc_id, source, ${sqlHexFold("md5(shv)", 8)} AS h
            FROM (SELECT doc_id, source,
              unnest(list_transform(generate_series(1, len(tk) - 7),
                i -> array_to_string(tk[i:i+7], ' '))) AS shv
              FROM (SELECT doc_id, source, string_split(text, ' ') AS tk FROM documents) t
              WHERE len(tk) >= 8) raw),
          ev AS (SELECT DISTINCT h FROM sh WHERE source = 'src0'),
          mbits AS (SELECT ((greatest(64, count(*) * 10) + 63) // 64) * 64 AS mb
            FROM ev),
          pm AS (SELECT * FROM (VALUES $vals) p(a, b)),
          bits AS (SELECT DISTINCT ((a * (h % ${Dedup.P31}) + b) % ${Dedup.P31})
              % (SELECT mb FROM mbits) AS bit FROM ev CROSS JOIN pm),
          cp AS (SELECT doc_id, h % ${Dedup.P31} AS hm FROM sh WHERE source <> 'src0')
          SELECT doc_id, count(*) AS n_hits FROM cp WHERE $conds GROUP BY doc_id"""
      }),

    // ✚ contamination REPORT (Pipeline.deconReport): the audit face of
    // decontamination — per burned EVAL doc, how many corpus docs hit
    // it and how many of its own distinct shingles are compromised.
    // Same split and n=8 as pipeline_decontaminate; counts are over the
    // same 32-bit md5 shingle hashes the Spark kernel emits, so the
    // oracle mirrors collisions too.
    Q("pipeline_decon_report",
      (s, d) => {
        val docs = t(s, d, "documents")
        Pipeline.deconReport(
          docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"),
          "doc_id", "text", 8)
      },
      Some(s"""WITH sh AS (SELECT doc_id, source, ${sqlMd5Hash32("shv")} AS sh
          FROM (SELECT doc_id, source,
            unnest(list_transform(generate_series(1, len(tk) - 7),
              i -> array_to_string(tk[i:i+7], ' '))) AS shv
            FROM (SELECT doc_id, source, string_split(text, ' ') AS tk
              FROM documents) t
            WHERE len(tk) >= 8) raw),
        ev AS (SELECT DISTINCT doc_id AS eid, sh FROM sh WHERE source = 'src0'),
        co AS (SELECT DISTINCT doc_id AS cid, sh FROM sh WHERE source <> 'src0')
        SELECT eid, CAST(count(DISTINCT cid) AS BIGINT) AS n_docs,
          CAST(count(DISTINCT sh) AS BIGINT) AS n_shingles
        FROM ev JOIN co USING (sh) GROUP BY eid""")),

    // ✚ kNN majority-vote classification (Similarity.knnClassify): the
    // evaluation face of the similarity family — each query takes the
    // majority label of its 15 exact-cosine neighbors; vote ties break
    // to the smallest label, neighbor ties to the smallest id.
    Q("sim_knn_label",
      (s, d) => Similarity.knnClassify(t(s, d, "embeddings"), "vec_id", "embedding",
        "label", Seq(0L, 1L, 2L, 3L, 4L), 15),
      Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
        q AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id IN (0,1,2,3,4)),
        s AS (SELECT qid, vec_id AS nn, label AS lbl,
          list_dot_product(qv, v) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS cos
          FROM v, q WHERE vec_id <> qid),
        r AS (SELECT qid, nn, lbl, row_number() OVER
          (PARTITION BY qid ORDER BY cos DESC, nn) AS rank FROM s),
        votes AS (SELECT qid, lbl, CAST(count(*) AS BIGINT) AS votes
          FROM r WHERE rank <= 15 GROUP BY qid, lbl),
        p AS (SELECT qid, lbl, votes, row_number() OVER
          (PARTITION BY qid ORDER BY votes DESC, lbl ASC) AS vr FROM votes)
        SELECT qid, lbl AS pred, votes FROM p WHERE vr = 1""")),

    // ✚ hard-negative mining (round 12): per query, the 10 most
    // similar CROSS-label vectors — the contrastive-training negative
    // sampler; label filter on the scan side, per-query rank window.
    Q("sim_hard_negatives",
      (s, d) => Similarity.hardNegatives(t(s, d, "embeddings"), "vec_id",
        "embedding", "label", Seq(0L, 1L, 2L, 3L, 4L), 10),
      Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
        q AS (SELECT vec_id AS qid, label AS qlbl, v AS qv FROM v WHERE vec_id IN (0,1,2,3,4)),
        s AS (SELECT qid, qlbl, vec_id AS nn, label AS lbl,
          list_dot_product(qv, v) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS cos
          FROM v, q WHERE label <> qlbl),
        r AS (SELECT qid, qlbl, nn, lbl, cos, CAST(row_number() OVER
          (PARTITION BY qid ORDER BY cos DESC, nn) AS INTEGER) AS rank FROM s)
        SELECT qid, qlbl, nn, lbl, round(cos, 6) AS cos, rank
        FROM r WHERE rank <= 10""")),

    // ✚ vector hygiene (round 12): dim / L2 norm / zero / NaN-Inf per
    // vector — the admission check before any ANN structure; map-only
    Q("sim_vector_hygiene",
      (s, d) => Similarity.vectorHygiene(t(s, d, "embeddings"), "vec_id", "embedding"),
      Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        n AS (SELECT vec_id, len(v) AS dim, list_dot_product(v, v) AS n2 FROM v)
        SELECT vec_id, CAST(dim AS INTEGER) AS dim,
          round(sqrt(n2), 6) AS norm, n2 = 0 AS is_zero,
          (isnan(n2) OR n2 = 'infinity'::DOUBLE) AS is_bad
        FROM n""")),

    // brute-force cosine top-k for a fixed query set (broadcast queries)
    Q("sim_topk",
      (s, d) => Similarity.bruteForceTopK(t(s, d, "embeddings"), "vec_id", "embedding",
        Seq(0L, 1L, 2L, 3L, 4L), 10)
        .select(col("qid"), col("nn"), col("rank"), round(col("cos"), 6).as("cos")),
      Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        q AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id IN (0,1,2,3,4)),
        s AS (SELECT qid, vec_id AS nn,
          list_dot_product(qv, v) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS cos
          FROM v, q WHERE vec_id <> qid),
        r AS (SELECT qid, nn, cos, CAST(row_number() OVER
          (PARTITION BY qid ORDER BY cos DESC, nn) AS INTEGER) AS rank FROM s)
        SELECT qid, nn, rank, round(cos, 6) AS cos FROM r WHERE rank <= 10""")),

    // int8-quantized cosine top-k: 4× smaller corpus representation,
    // integer dot products. The oracle recomputes the quantization
    // arithmetically (round(x·127/max|x|)) — code-exact, and the
    // cosine ratio of exact integers matches to the rounded 6dp.
    Q("sim_quantized_topk",
      (s, d) => Similarity.quantizedTopK(t(s, d, "embeddings"), "vec_id", "embedding",
        Seq(0L, 1L, 2L, 3L, 4L), 10)
        .select(col("qid"), col("nn"), col("rank"), round(col("cos"), 6).as("cos")),
      Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS ma FROM v),
        qz AS (SELECT vec_id,
          list_transform(v, x -> CAST(round(x * 127 / ma) AS INTEGER)) AS c FROM m),
        n AS (SELECT vec_id, c, list_dot_product(c, c) AS n2 FROM qz),
        q AS (SELECT vec_id AS qid, c AS qc, n2 AS qn2 FROM n WHERE vec_id IN (0,1,2,3,4)),
        s AS (SELECT qid, vec_id AS nn,
          list_dot_product(qc, c) / (sqrt(qn2) * sqrt(n2)) AS cos
          FROM n, q WHERE vec_id <> qid),
        r AS (SELECT qid, nn, cos, CAST(row_number() OVER
          (PARTITION BY qid ORDER BY cos DESC, nn) AS INTEGER) AS rank FROM s)
        SELECT qid, nn, rank, round(cos, 6) AS cos FROM r WHERE rank <= 10""")),

    // ✚ product quantization (Similarity.pqTopK scaladoc): 4 subspaces
    // × 16 sampled codewords, asymmetric query-vs-reconstruction
    // cosine — the oracle recomputes codes (L2 expansion + first-min
    // argmin), reconstructions, and cosines bit-for-bit
    Q("sim_pq_topk",
      (s, d) => Similarity.pqTopK(t(s, d, "embeddings"), "vec_id", "embedding",
        4, 16, Seq(0L, 1L, 2L, 3L, 4L), 10)
        .select(col("qid"), col("nn"), col("rank"), round(col("cos"), 6).as("cos")),
      Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        ms AS (SELECT unnest(range(4)) AS m),
        cb AS (SELECT vec_id AS code, v AS cv FROM v WHERE vec_id < 16),
        sl AS (SELECT vec_id, v, m, v[m*16+1 : m*16+16] AS s FROM v CROSS JOIN ms),
        cbs AS (SELECT code, m, cv[m*16+1 : m*16+16] AS c FROM cb CROSS JOIN ms),
        d AS (SELECT vec_id, m, code, c,
            list_dot_product(s, s) - 2.0 * list_dot_product(s, c)
              + list_dot_product(c, c) AS d2
          FROM sl JOIN cbs USING (m)),
        chosen AS (SELECT vec_id, m, c FROM (
            SELECT vec_id, m, c, row_number() OVER (PARTITION BY vec_id, m
              ORDER BY d2 ASC, code ASC) AS rn FROM d) t
          WHERE rn = 1),
        recon AS (SELECT vec_id, flatten(list(c ORDER BY m)) AS rv
          FROM chosen GROUP BY vec_id),
        q AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id IN (0,1,2,3,4)),
        cand AS (SELECT q.qid, r.vec_id AS nn, list_dot_product(q.qv, r.rv) /
            (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(r.rv, r.rv))) AS cos
          FROM q CROSS JOIN recon r WHERE r.vec_id <> q.qid),
        rr AS (SELECT qid, nn, cos, CAST(row_number() OVER (PARTITION BY qid
          ORDER BY cos DESC, nn ASC) AS INTEGER) AS rank FROM cand)
        SELECT qid, nn, rank, round(cos, 6) AS cos FROM rr WHERE rank <= 10""")),

    // ✚ two-stage PQ retrieval (Similarity.pqRerankTopK): codes
    // shortlist top k·8 by reconstruction cosine, exact cosine
    // re-ranks the shortlist — the serving shape that recovers ranking
    // quality from the 16-bit codes (measured recall: BASELINE.md #32).
    Q("sim_pq_rerank_topk",
      (s, d) => Similarity.pqRerankTopK(t(s, d, "embeddings"), "vec_id", "embedding",
        4, 16, Seq(0L, 1L, 2L, 3L, 4L), 10)
        .select(col("qid"), col("nn"), col("rank"), round(col("cos"), 6).as("cos")),
      Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        ms AS (SELECT unnest(range(4)) AS m),
        cb AS (SELECT vec_id AS code, v AS cv FROM v WHERE vec_id < 16),
        sl AS (SELECT vec_id, v, m, v[m*16+1 : m*16+16] AS s FROM v CROSS JOIN ms),
        cbs AS (SELECT code, m, cv[m*16+1 : m*16+16] AS c FROM cb CROSS JOIN ms),
        d AS (SELECT vec_id, m, code, c,
            list_dot_product(s, s) - 2.0 * list_dot_product(s, c)
              + list_dot_product(c, c) AS d2
          FROM sl JOIN cbs USING (m)),
        chosen AS (SELECT vec_id, m, c FROM (
            SELECT vec_id, m, c, row_number() OVER (PARTITION BY vec_id, m
              ORDER BY d2 ASC, code ASC) AS rn FROM d) t
          WHERE rn = 1),
        recon AS (SELECT vec_id, flatten(list(c ORDER BY m)) AS rv
          FROM chosen GROUP BY vec_id),
        q AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id IN (0,1,2,3,4)),
        cand AS (SELECT q.qid, r.vec_id AS nn, list_dot_product(q.qv, r.rv) /
            (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(r.rv, r.rv))) AS cos
          FROM q CROSS JOIN recon r WHERE r.vec_id <> q.qid),
        rr AS (SELECT qid, nn, cos, row_number() OVER (PARTITION BY qid
          ORDER BY cos DESC, nn ASC) AS rank FROM cand),
        sh AS (SELECT qid, nn FROM rr WHERE rank <= 80),
        ex AS (SELECT sh.qid, sh.nn, list_dot_product(q.qv, v.v) /
            (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(v.v, v.v))) AS cos
          FROM sh JOIN v ON v.vec_id = sh.nn JOIN q ON q.qid = sh.qid),
        er AS (SELECT qid, nn, cos, CAST(row_number() OVER (PARTITION BY qid
          ORDER BY cos DESC, nn ASC) AS INTEGER) AS rank FROM ex)
        SELECT qid, nn, rank, round(cos, 6) AS cos FROM er WHERE rank <= 10""")),

    // PQ search over TRAINED per-subspace codebooks (VERDICT r7
    // missing #4's "IVF/PQ" — the PQ half): trainPqCodebooks' grid-
    // rounded Lloyd iterations are replayed by the oracle CTEs
    // bit-for-bit, then both sides encode the corpus against the same
    // trained codewords. Codebooks are cached per source dir like the
    // IVF centroids — production trains once offline, serves many.
    Q("sim_pq_trained_topk",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val books = trainedPqBooks(emb, d)
        Similarity.pqTopKWith(emb, "vec_id", "embedding", books,
          Seq(0L, 1L, 2L, 3L, 4L), 10)
          .select(col("qid"), col("nn"), col("rank"), round(col("cos"), 6).as("cos"))
      },
      Some(s"WITH $PqKmeansCtes, " +
        """v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        esl AS (SELECT vec_id, m, v[m*16+1 : m*16+16] AS s FROM v CROSS JOIN pms),
        ed AS (SELECT e.vec_id, e.m, b.code, b.c,
            list_dot_product(e.s, e.s) - 2.0 * list_dot_product(e.s, b.c)
              + list_dot_product(b.c, b.c) AS d2
          FROM esl e JOIN pcb2 b ON b.m = e.m),
        chosen AS (SELECT vec_id, m, c FROM (
            SELECT vec_id, m, c, row_number() OVER (PARTITION BY vec_id, m
              ORDER BY d2 ASC, code ASC) AS rn FROM ed) z
          WHERE rn = 1),
        recon AS (SELECT vec_id, flatten(list(c ORDER BY m)) AS rv
          FROM chosen GROUP BY vec_id),
        q AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id IN (0,1,2,3,4)),
        cand AS (SELECT q.qid, r.vec_id AS nn, list_dot_product(q.qv, r.rv) /
            (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(r.rv, r.rv))) AS cos
          FROM q CROSS JOIN recon r WHERE r.vec_id <> q.qid),
        rr AS (SELECT qid, nn, cos, CAST(row_number() OVER (PARTITION BY qid
          ORDER BY cos DESC, nn ASC) AS INTEGER) AS rank FROM cand)
        SELECT qid, nn, rank, round(cos, 6) AS cos FROM rr WHERE rank <= 10""")),

    // deterministic k-means (VERDICT r7 missing #4): 2 unrolled Lloyd
    // iterations over grid-rounded training vectors — sums become
    // order-invariant-EXACT (Similarity.trainKMeans scaladoc), so the
    // DuckDB replay of the same iterations lands on the same doubles
    // and the trained centroid table hash-matches bit-for-bit
    Q("sim_kmeans_centroids",
      (s, d) => {
        val cents = Similarity.trainKMeans(
          t(s, d, "embeddings"), "vec_id", "embedding", 16, 256)
        import s.implicits._
        cents.flatMap { case (cid, cv) =>
          cv.zipWithIndex.map { case (x, p) => (cid, p, x) }
        }.toDF("cid", "pos", "val")
      },
      Some(s"WITH $KmeansCtes " +
        """SELECT cid, CAST(p.pos AS INT) AS pos, cv[p.pos + 1] AS val
          FROM c2 CROSS JOIN range(64) p(pos)""")),

    // IVF search over the TRAINED coarse quantizer: same pipeline as
    // sim_ivf_topk with trainKMeans centroids plugged in; the oracle
    // replays the training CTEs then the assignment/probe/re-rank.
    // Centroids are cached per source dir — production trains the
    // quantizer ONCE offline and serves many queries against it, so
    // the served-query cost (what the bench row should measure) must
    // not re-pay training per query. Training is deterministic, so
    // the cache cannot change answers.
    Q("sim_ivf_trained_topk",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val cents = trainedCentroids(emb, d)
        Similarity.ivfTopKWith(emb, "vec_id", "embedding", cents,
          4, Seq(0L, 1L, 2L, 3L, 4L), 10)
          .select(col("qid"), col("nn"), col("rank"), round(col("cos"), 6).as("cos"))
      },
      Some(s"WITH $KmeansCtes, " +
        s"""v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        sc AS (SELECT t.vec_id, t.v, c.cid, list_dot_product(t.v, c.cv) /
            (sqrt(list_dot_product(t.v, t.v)) * sqrt(list_dot_product(c.cv, c.cv))) AS ccos
          FROM v t CROSS JOIN c2 c),
        cell AS (SELECT vec_id, v, cid AS cell FROM (
            SELECT vec_id, v, cid, row_number() OVER (PARTITION BY vec_id
              ORDER BY ccos DESC, cid ASC) AS rn FROM sc) z
          WHERE rn = 1),
        q AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id IN (0,1,2,3,4)),
        qsc AS (SELECT qid, qv, cid, list_dot_product(qv, cv) /
            (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS ccos
          FROM q CROSS JOIN c2),
        probes AS (SELECT qid, qv, cid AS cell FROM (
            SELECT qid, qv, cid, row_number() OVER (PARTITION BY qid
              ORDER BY ccos DESC, cid ASC) AS rn FROM qsc) z
          WHERE rn <= 4),
        celln AS (SELECT vec_id, v, cell, row_number() OVER (PARTITION BY cell
            ORDER BY vec_id ASC) AS crn FROM cell),
        cand AS (SELECT p.qid, m.vec_id AS nn, list_dot_product(p.qv, m.v) /
            (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(m.v, m.v))) AS cos
          FROM probes p JOIN celln m ON m.cell = p.cell AND m.vec_id <> p.qid
          WHERE m.crn <= ${Similarity.CandidateCap}),
        r AS (SELECT qid, nn, cos, CAST(row_number() OVER (PARTITION BY qid
          ORDER BY cos DESC, nn ASC) AS INTEGER) AS rank FROM cand)
        SELECT qid, nn, rank, round(cos, 6) AS cos FROM r WHERE rank <= 10""")),

    // ✚ IVF-PQ composed retrieval (round 14, Jégou et al. IVFADC): the
    // two scale levers STACKED — coarse cells prune what is scanned,
    // PQ codes compress what a scanned row costs (ADC shortlist), and
    // the exact re-rank touches only queries × k × overfetch vectors.
    // Both quantizers are the trained, grid-round-exact ones the
    // sim_ivf_trained / sim_pq_trained rows already oracle, so the
    // composition replays bit-for-bit: the oracle is their CTE chains
    // joined by the probe → ADC-shortlist → re-rank pipeline.
    Q("sim_ivfpq_topk",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val cents = trainedCentroids(emb, d)
        val books = trainedPqBooks(emb, d)
        Similarity.ivfPqTopKWith(emb, "vec_id", "embedding", cents, books,
          4, Seq(0L, 1L, 2L, 3L, 4L), 10, overfetch = 4)
          .select(col("qid"), col("nn"), col("rank"), round(col("cos"), 6).as("cos"))
      },
      Some(s"WITH $KmeansCtes, $PqKmeansCtes, " +
        s"""v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        sc AS (SELECT t.vec_id, t.v, c.cid, list_dot_product(t.v, c.cv) /
            (sqrt(list_dot_product(t.v, t.v)) * sqrt(list_dot_product(c.cv, c.cv))) AS ccos
          FROM v t CROSS JOIN c2 c),
        cell AS (SELECT vec_id, v, cid AS cell FROM (
            SELECT vec_id, v, cid, row_number() OVER (PARTITION BY vec_id
              ORDER BY ccos DESC, cid ASC) AS rn FROM sc) z
          WHERE rn = 1),
        celln AS (SELECT vec_id, v, cell, row_number() OVER (PARTITION BY cell
            ORDER BY vec_id ASC) AS crn FROM cell),
        esl AS (SELECT vec_id, m, v[m*16+1 : m*16+16] AS s FROM v CROSS JOIN pms),
        ed AS (SELECT e.vec_id, e.m, b.code, b.c,
            list_dot_product(e.s, e.s) - 2.0 * list_dot_product(e.s, b.c)
              + list_dot_product(b.c, b.c) AS d2
          FROM esl e JOIN pcb2 b ON b.m = e.m),
        chosen AS (SELECT vec_id, m, c FROM (
            SELECT vec_id, m, c, row_number() OVER (PARTITION BY vec_id, m
              ORDER BY d2 ASC, code ASC) AS rn FROM ed) z
          WHERE rn = 1),
        recon AS (SELECT vec_id, flatten(list(c ORDER BY m)) AS rv
          FROM chosen GROUP BY vec_id),
        q AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id IN (0,1,2,3,4)),
        qsc AS (SELECT qid, qv, cid, list_dot_product(qv, cv) /
            (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS ccos
          FROM q CROSS JOIN c2),
        probes AS (SELECT qid, qv, cid AS cell FROM (
            SELECT qid, qv, cid, row_number() OVER (PARTITION BY qid
              ORDER BY ccos DESC, cid ASC) AS rn FROM qsc) z
          WHERE rn <= 4),
        cand AS (SELECT p.qid, p.qv, m.vec_id AS nn, m.v AS mv, r.rv
          FROM probes p JOIN celln m ON m.cell = p.cell AND m.vec_id <> p.qid
          JOIN recon r ON r.vec_id = m.vec_id
          WHERE m.crn <= ${Similarity.effectiveCap(Similarity.CandidateCap, 4)}),
        adc AS (SELECT qid, qv, nn, mv, list_dot_product(qv, rv) /
            (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(rv, rv))) AS adc
          FROM cand),
        sl AS (SELECT qid, qv, nn, mv FROM (
            SELECT qid, qv, nn, mv, row_number() OVER (PARTITION BY qid
              ORDER BY adc DESC, nn ASC) AS arn FROM adc) z
          WHERE arn <= 40),
        ex AS (SELECT qid, nn, list_dot_product(qv, mv) /
            (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(mv, mv))) AS cos
          FROM sl),
        r AS (SELECT qid, nn, cos, CAST(row_number() OVER (PARTITION BY qid
          ORDER BY cos DESC, nn ASC) AS INTEGER) AS rank FROM ex)
        SELECT qid, nn, rank, round(cos, 6) AS cos FROM r WHERE rank <= 10""")),

    // ✚ RESIDUAL-encoded IVF-PQ (round 15 — the full IVFADC
    // formulation, Jégou et al. PAMI'11 §IV): codes encode
    // r = unit(v) − c_cell instead of the raw vector, and ADC scores
    // cos(q, c_cell + recon(r)). Raw-vector codes collapse on a
    // clustered corpus (every true neighbor shares the query's cell
    // and quantizes near-identically — measured recall@10 0.0950 →
    // 0.2200 uncapped on the 16-cluster MoG corpus, 0.37 → 0.47 at
    // sf0.1); residuals spend the 16 code bits on exactly the
    // within-cell variation ADC needs to rank. The twin replays the
    // residual book training (grid-rounded residual Lloyd) and the
    // composed chain bit-for-bit.
    Q("sim_ivfpq_residual_topk",
      residualIvfPqQuery(4), Some(residualIvfPqOracle(4))),

    // ✚ the 32-BIT residual rung (r16, VERDICT r15 order #3): #85
    // measured the 16-bit budget, not the encoding, as the binding
    // constraint (residual 0.22 vs coarse-exact 1.0 on crisp MoG) — m=8
    // sub-quantizers double the code budget on the SAME residual
    // machinery (dsub drops 16 → 8; nCodes stays 16). Same trained
    // centroids, same overfetch-aware cap, same bit-exact twin chain.
    Q("sim_ivfpq_residual_m8_topk",
      residualIvfPqQuery(8), Some(residualIvfPqOracle(8))),

    // ✚ the 48-BIT rung (r16): m=8 × nCodes=64 — the next budget knob
    // after #89's finding that code resolution, not encoding, is the
    // remaining ceiling. nTrain stays 256 in the DECLARED query (the
    // replayable-twin contract); the 20k-row MoG ladder trains it at
    // 2048 where the 64-codeword books actually have data to learn.
    Q("sim_ivfpq_residual_m8c64_topk",
      residualIvfPqQuery(8, 64), Some(residualIvfPqOracle(8, 64))),

    // ✚ the 64-BIT rung (r17, VERDICT r16 order #3): m=8 × nCodes=256
    // — the full byte-code IVFADC configuration (Jégou et al.'s
    // standard 8-bit-per-subquantizer layout). The DECLARED query
    // keeps nTrain=256 (the replayable-twin contract: the DuckDB CTE
    // chain unrolls the same two Lloyd iterations bit-for-bit); the
    // 20k-row MoG ladder trains it at nTrain 2048-8192 where
    // 256-codeword books have data to learn (#89: "nCodes > 16 needs
    // nTrain ≫ 256" — the probe measures that, the twin proves the
    // machinery).
    Q("sim_ivfpq_residual_m8c256_topk",
      residualIvfPqQuery(8, 256), Some(residualIvfPqOracle(8, 256))),

    // ✚ length-bucket batching audit (round 14): the padding-efficiency
    // report behind fixed batch shapes — smallest power-of-two bucket
    // per doc (floor 16, cap 2048 = truncation), per-bucket capacity
    // vs real tokens. The bucket ladder is a closed CASE chain of
    // integer compares (no float log), replayed verbatim by the twin.
    Q("pipeline_length_buckets",
      (s, d) => Pipeline.lengthBuckets(t(s, d, "documents"), "doc_id", "text"),
      Some("""WITH n AS (SELECT len(string_split(text, ' ')) AS n FROM documents),
        b AS (SELECT CAST(CASE WHEN n <= 16 THEN 16 WHEN n <= 32 THEN 32
            WHEN n <= 64 THEN 64 WHEN n <= 128 THEN 128 WHEN n <= 256 THEN 256
            WHEN n <= 512 THEN 512 WHEN n <= 1024 THEN 1024 ELSE 2048 END AS INTEGER)
            AS bucket,
          CAST(least(n, 2048) AS INTEGER) AS eff FROM n)
        SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(eff) AS BIGINT) AS total_tokens,
          CAST(count(*) * bucket AS BIGINT) AS capacity,
          round(1.0 - CAST(sum(eff) AS DOUBLE) / CAST(count(*) * bucket AS DOUBLE), 6)
            AS padding_frac
        FROM b GROUP BY bucket""")),

    // ✚ character-entropy gate (round 14, plans.CharEntropy): the
    // direct low-entropy-junk signal beside the zlib proxy — Shannon
    // bits/char over code points, summed in ASCENDING code-point order
    // on both sides (kernel TreeMap walk ≡ list_reduce over
    // list(term ORDER BY c) under binary collation), 6dp-rounded (the
    // Qh continuous bridge). Band keep = natural-prose range.
    Q("text_entropy",
      (s, d) => TextOps.entropyGate(t(s, d, "documents"), "doc_id", "text", 2.0, 5.5),
      Some("""WITH ch AS (SELECT doc_id, unnest(regexp_extract_all(text, '(?s).')) AS c
          FROM documents),
        cnt AS (SELECT doc_id, c, CAST(count(*) AS BIGINT) AS k
          FROM ch GROUP BY doc_id, c),
        tot AS (SELECT doc_id, sum(k) AS n,
          list(k * ln(k) / ln(2) ORDER BY c) AS terms FROM cnt GROUP BY doc_id),
        ent AS (SELECT doc_id,
          round(ln(n) / ln(2) - list_reduce(terms, (a, x) -> a + x) / n, 6) AS e
          FROM tot)
        SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars,
          coalesce(ent.e, 0.0) AS entropy,
          coalesce(ent.e, 0.0) >= 2.0 AND coalesce(ent.e, 0.0) <= 5.5 AS keep
        FROM documents d LEFT JOIN ent ON ent.doc_id = d.doc_id""")),

    // IVF ANN: deterministic sampled centroids (vec_id < 16), map-only
    // cell assignment, probe 4 cells/query, exact re-rank within cells
    Q("sim_ivf_topk",
      (s, d) => Similarity.ivfTopK(t(s, d, "embeddings"), "vec_id", "embedding",
        16, 4, Seq(0L, 1L, 2L, 3L, 4L), 10)
        .select(col("qid"), col("nn"), col("rank"), round(col("cos"), 6).as("cos")),
      Some(s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        c AS (SELECT vec_id AS cid, v AS cv FROM v WHERE vec_id < 16),
        sc AS (SELECT vec_id, v, cid, list_dot_product(v, cv) /
            (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))) AS ccos
          FROM v CROSS JOIN c),
        cell AS (SELECT vec_id, v, cid AS cell FROM (
            SELECT vec_id, v, cid, row_number() OVER (PARTITION BY vec_id
              ORDER BY ccos DESC, cid ASC) AS rn FROM sc) t
          WHERE rn = 1),
        q AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id IN (0,1,2,3,4)),
        qsc AS (SELECT qid, qv, cid, list_dot_product(qv, cv) /
            (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS ccos
          FROM q CROSS JOIN c),
        probes AS (SELECT qid, qv, cid AS cell FROM (
            SELECT qid, qv, cid, row_number() OVER (PARTITION BY qid
              ORDER BY ccos DESC, cid ASC) AS rn FROM qsc) t
          WHERE rn <= 4),
        celln AS (SELECT vec_id, v, cell, row_number() OVER (PARTITION BY cell
            ORDER BY vec_id ASC) AS crn FROM cell),
        cand AS (SELECT p.qid, m.vec_id AS nn, list_dot_product(p.qv, m.v) /
            (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(m.v, m.v))) AS cos
          FROM probes p JOIN celln m ON m.cell = p.cell AND m.vec_id <> p.qid
          WHERE m.crn <= ${Similarity.CandidateCap}),
        r AS (SELECT qid, nn, cos, CAST(row_number() OVER (PARTITION BY qid
          ORDER BY cos DESC, nn ASC) AS INTEGER) AS rank FROM cand)
        SELECT qid, nn, rank, round(cos, 6) AS cos FROM r WHERE rank <= 10""")),

    // ANN scale path: random-hyperplane LSH bucket histogram (8 planes)
    Q("sim_ann_buckets",
      (s, d) => t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("bucket", Similarity.lshBucket(col("v"), 64, 8))
        .groupBy(col("bucket")).agg(count(lit(1)).as("cnt")),
      Some {
        val bits = (0 until 8).map { i =>
          val plane = (0 until 64).map(j => s"${Similarity.planeSign(i, j)}.0").mkString(",")
          s"CASE WHEN list_dot_product(v, [$plane]::DOUBLE[]) > 0 THEN CAST(${1L << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        }.mkString(" + ")
        s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          b AS (SELECT vec_id, $bits AS bucket FROM v)
          SELECT bucket, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY bucket"""
      }),

    // LSH ANN end-to-end: bucket join + exact cosine re-rank within
    // buckets (the query sim_ann_buckets only histograms the buckets)
    Q("sim_ann_topk",
      (s, d) => Similarity.annTopK(t(s, d, "embeddings"), "vec_id", "embedding", 64, 8, 5)
        .select(col("qid"), col("nn"), col("rank"), round(col("cos"), 6).as("cos")),
      Some {
        val bits = (0 until 8).map { i =>
          val plane = (0 until 64).map(j => s"${Similarity.planeSign(i, j)}.0").mkString(",")
          s"CASE WHEN list_dot_product(v, [$plane]::DOUBLE[]) > 0 THEN CAST(${1L << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        }.mkString(" + ")
        s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          b AS (SELECT vec_id, v, $bits AS bucket FROM v),
          bn AS (SELECT vec_id, v, bucket, row_number() OVER (PARTITION BY bucket
            ORDER BY vec_id ASC) AS crn FROM b),
          cand AS (SELECT a.vec_id AS qid, c.vec_id AS nn,
            list_dot_product(a.v, c.v) /
              (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
            FROM b a JOIN bn c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id
            WHERE c.crn <= ${Similarity.CandidateCap}),
          r AS (SELECT qid, nn, cos, CAST(row_number() OVER (PARTITION BY qid
            ORDER BY cos DESC, nn ASC) AS INTEGER) AS rank FROM cand)
          SELECT qid, nn, rank, round(cos, 6) AS cos FROM r WHERE rank <= 5"""
      }),

    // CONTAINSTEXT at scale: tokenized inverted-index lookup instead of
    // a substring scan — postings list join, shuffle keyed on token
    // (SURVEY §2.B.2 ✚ "tokenized inverted map for scale")
    Q("text_inverted_search",
      (s, d) => {
        val postings = t(s, d, "documents")
          .select(col("doc_id"), col("lang"), explode(TextOps.tokens(col("text"))).as("tk"))
        postings.filter(col("tk").isin("spark", "stream"))
          .groupBy(col("doc_id"), col("lang"))
          .agg(countDistinct(col("tk")).as("n_terms"), count(lit(1)).as("n_hits"))
          .filter(col("n_terms") === 2) // AND semantics: both terms present
          .select(col("doc_id"), col("lang"), col("n_hits"))
      },
      Some("""SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_hits FROM (
          SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tk FROM documents) p
        WHERE tk IN ('spark', 'stream')
        GROUP BY doc_id, lang HAVING count(DISTINCT tk) = 2""")),

    // language-ID by stopword-marker argmax (fixed tie-break order)
    // ✚ LID confidence margin (TextOps.predictLangMargin): best −
    // second-best marker hits — the threshold a production LID gate
    // trusts a label at (margin 0 = tie-break coin flip). The oracle
    // replays the (best, second, lang) fold step for step.
    Q("text_lang_margin",
      (s, d) => {
        val (lang, margin) = TextOps.predictLangMargin(col("text"))
        t(s, d, "documents").select(col("doc_id"), lang.as("pred_lang"),
          margin.as("margin"), (margin >= 2).as("confident"))
      },
      Some {
        val hits = TextOps.LangMarkers.map { case (lang, m) =>
          val lst = m.map(w => s"'$w'").mkString(",")
          s"CAST(len(list_filter(string_split(text, ' '), x -> x IN ($lst))) AS INTEGER) AS h_$lang"
        }.mkString(", ")
        val langs = TextOps.LangMarkers.map(_._1)
        val steps = langs.tail.zipWithIndex.map { case (lg, i) =>
          val (pb, ps, pss) =
            if (i == 0) (s"'${langs.head}'", s"h_${langs.head}", "0")
            else (s"bl$i", s"bs$i", s"ss$i")
          s"""s${i + 1} AS (SELECT *,
            CASE WHEN h_$lg > $ps THEN h_$lg ELSE $ps END AS bs${i + 1},
            CASE WHEN h_$lg > $ps THEN $ps
              ELSE (CASE WHEN h_$lg > $pss THEN h_$lg ELSE $pss END) END AS ss${i + 1},
            CASE WHEN h_$lg > $ps THEN '$lg' ELSE $pb END AS bl${i + 1}
            FROM ${if (i == 0) "h" else s"s$i"})"""
        }.mkString(", ")
        val n = langs.size - 1
        s"""WITH h AS (SELECT doc_id, $hits FROM documents), $steps
          SELECT doc_id, bl$n AS pred_lang, bs$n - ss$n AS margin,
            bs$n - ss$n >= 2 AS confident FROM s$n"""
      }),

    Q("text_lang_id",
      (s, d) => t(s, d, "documents").select(
        col("doc_id"),
        TextOps.predictLang(col("text")).as("pred_lang"),
        col("lang")),
      Some {
        val (ctes, fin, pred) = sqlLangChain("doc_id, lang")
        s"WITH $ctes SELECT doc_id, $pred AS pred_lang, lang FROM $fin"
      }),

    // pipeline composition: LID-agreement gate + token bounds + exact
    // dedup keeping min doc_id — the canonical prep chain (map-only
    // gates, ONE hash-agg shuffle)
    Q("pipeline_prep",
      (s, d) => Pipeline.prepCorpus(t(s, d, "documents"), 5, 512),
      Some {
        val (ctes, fin, pred) = sqlLangChain("doc_id, lang, text")
        s"""WITH $ctes,
          gated AS (SELECT doc_id, lang, text,
            CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens
            FROM $fin WHERE $pred = lang
            AND len(string_split(text, ' ')) BETWEEN 5 AND 512)
          SELECT CAST(min(doc_id) AS BIGINT) AS doc_id,
            arg_min(lang, doc_id) AS lang, max(n_tokens) AS n_tokens,
            CAST(count(*) AS BIGINT) AS n_copies
          FROM gated GROUP BY text"""
      }),

    // deterministic stratified sampling: md5-bucket per doc, per-lang
    // keep rates (60% en, 20% rest) — stable across reruns/cluster sizes
    Q("pipeline_sample",
      (s, d) => Pipeline.stratifiedSample(t(s, d, "documents"), "doc_id", "lang",
          Map("en" -> 60), 20, "graft_mix_")
        .select(col("doc_id"), col("lang"), col("pct"), col("rate")),
      Some(s"""SELECT doc_id, lang,
        ${sqlMd5Hash32("'graft_mix_' || CAST(doc_id AS VARCHAR)")} % 100 AS pct,
        CASE WHEN lang = 'en' THEN 60 ELSE 20 END AS rate
        FROM documents
        WHERE ${sqlMd5Hash32("'graft_mix_' || CAST(doc_id AS VARCHAR)")} % 100
          < CASE WHEN lang = 'en' THEN 60 ELSE 20 END""")),

    // ✚ span-corruption pairs (round 12): T5/UL2 denoising examples —
    // deterministic block-lattice masking (non-overlapping by
    // construction), ordinal sentinels, one map-only fold per doc.
    Q("pipeline_span_corruption",
      (s, d) => Pipeline.spanCorruption(t(s, d, "documents"), "doc_id", "text",
        8, 15, "graft_sc_"),
      Some {
        val h = sqlMd5Hash32(
          "'graft_sc_' || CAST(doc_id AS VARCHAR) || '_' || CAST(u.b AS VARCHAR)")
        s"""WITH base AS (SELECT doc_id,
            list_filter(string_split(text, ' '), t -> t <> '') AS tk
          FROM documents),
        lat AS (SELECT doc_id, tk, len(tk) AS n,
            generate_series(0, GREATEST(
              CAST(CEIL(CAST(len(tk) AS DOUBLE) / 8) AS INTEGER) - 1, 0)) AS bl
          FROM base),
        blocks AS (SELECT doc_id, tk, n, u.b AS b,
            CASE WHEN n = 0 THEN FALSE ELSE ($h) % 100 < 15 END AS m
          FROM lat, unnest(bl) AS u(b)),
        ord AS (SELECT *, CASE WHEN m THEN CAST(row_number() OVER
            (PARTITION BY doc_id, m ORDER BY b) - 1 AS INTEGER) END AS k
          FROM blocks),
        parts AS (SELECT doc_id, n, b, m,
            CASE WHEN m THEN '<extra_id_' || k || '>'
              ELSE array_to_string(list_slice(tk, b * 8 + 1, b * 8 + 8), ' ')
            END AS ipart,
            CASE WHEN m THEN '<extra_id_' || k || '> ' ||
              array_to_string(list_slice(tk, b * 8 + 1, b * 8 + 8), ' ')
            END AS tpart,
            CASE WHEN m THEN LEAST(n - b * 8, 8) ELSE 0 END AS mc
          FROM ord)
        SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_tokens,
          CAST(SUM(mc) AS BIGINT) AS n_masked,
          COALESCE(string_agg(NULLIF(ipart, ''), ' ' ORDER BY b), '') AS input_text,
          COALESCE(string_agg(tpart, ' ' ORDER BY b), '') AS target_text
        FROM parts GROUP BY doc_id"""
      }),

    // ✚ fill-in-middle transform (round 12): PSM rearrangement at two
    // salted-md5 cut points, 50% mixed objective; map-only.
    Q("pipeline_fim",
      (s, d) => Pipeline.fimTransform(t(s, d, "documents"), "doc_id", "text",
        50, "graft_fim_"),
      Some {
        def h(tag: String) = sqlMd5Hash32(
          s"'graft_fim_' || CAST(doc_id AS VARCHAR) || '$tag'")
        s"""WITH base AS (SELECT doc_id,
            list_filter(string_split(text, ' '), t -> t <> '') AS tk
          FROM documents),
        cuts AS (SELECT doc_id, tk, len(tk) AS n,
            (${h("_q")}) % 100 < 50 AND len(tk) > 0 AS fim,
            (${h("_a")}) % (len(tk) + 1) AS c1,
            (${h("_b")}) % (len(tk) + 1) AS c2
          FROM base),
        cut2 AS (SELECT doc_id, tk, n, fim,
            LEAST(c1, c2) AS lo, GREATEST(c1, c2) AS hi FROM cuts)
        SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
          CAST(CASE WHEN fim THEN hi - lo ELSE 0 END AS BIGINT) AS n_middle,
          fim,
          CASE WHEN fim THEN array_to_string(
              flatten([['<PRE>'], list_slice(tk, 1, lo),
                ['<SUF>'], list_slice(tk, hi + 1, n),
                ['<MID>'], list_slice(tk, lo + 1, hi)]), ' ')
            ELSE array_to_string(tk, ' ') END AS fim_text
        FROM cut2"""
      }),

    // ✚ distribution drift (round 12): two-sample KS on an integer
    // bucket lattice — cumulative masses compared as |cumA·N_B −
    // cumB·N_A| integers, ONE division at the end; src0-vs-src1 doc
    // lengths.
    Q("pipeline_drift",
      (s, d) => {
        val docs = t(s, d, "documents")
        Pipeline.distributionDrift(docs.filter(col("source") === "src0"),
          docs.filter(col("source") === "src1"), col("n_chars"),
          0L, 32L, 20, 0.1)
      },
      Some("""WITH ba AS (SELECT LEAST(19, GREATEST(0,
            CAST(FLOOR((CAST(n_chars AS BIGINT) - 0) / 32) AS INTEGER))) AS bucket,
            CAST(count(*) AS BIGINT) AS na
          FROM documents WHERE source = 'src0' GROUP BY 1),
        bb AS (SELECT LEAST(19, GREATEST(0,
            CAST(FLOOR((CAST(n_chars AS BIGINT) - 0) / 32) AS INTEGER))) AS bucket,
            CAST(count(*) AS BIGINT) AS nb
          FROM documents WHERE source = 'src1' GROUP BY 1),
        ab AS (SELECT COALESCE(ba.bucket, bb.bucket) AS bucket,
            COALESCE(na, 0) AS na, COALESCE(nb, 0) AS nb
          FROM ba FULL OUTER JOIN bb ON ba.bucket = bb.bucket),
        cum AS (SELECT bucket,
            SUM(na) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS ca,
            SUM(nb) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS cb
          FROM ab),
        tot AS (SELECT CAST(MAX(ca) AS BIGINT) AS n_a,
            CAST(MAX(cb) AS BIGINT) AS n_b FROM cum),
        num AS (SELECT bucket, CAST(ABS(ca * n_b - cb * n_a) AS BIGINT) AS num,
            n_a, n_b FROM cum, tot
          ORDER BY num DESC, bucket ASC LIMIT 1)
        SELECT n_a, n_b, CAST(bucket AS INTEGER) AS ks_bucket,
          CASE WHEN n_a = 0 OR n_b = 0 THEN 0.0
            ELSE ROUND(CAST(num AS DOUBLE)
              / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6) END AS ks,
          ((n_a = 0) <> (n_b = 0)) OR
          CASE WHEN n_a = 0 OR n_b = 0 THEN 0.0
            ELSE ROUND(CAST(num AS DOUBLE)
              / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6) END > 0.1 AS drifted
        FROM num""")),

    // ✚ categorical drift (round 12): total-variation distance between
    // src0's and src1's language mixes — integer cross-products, one
    // division by 2·N_A·N_B.
    Q("pipeline_drift_categorical",
      (s, d) => {
        val docs = t(s, d, "documents")
        Pipeline.categoricalDrift(docs.filter(col("source") === "src0"),
          docs.filter(col("source") === "src1"), col("lang"), 0.1)
      },
      Some("""WITH ca AS (SELECT lang AS c, CAST(count(*) AS BIGINT) AS na
          FROM documents WHERE source = 'src0' GROUP BY 1),
        cb AS (SELECT lang AS c, CAST(count(*) AS BIGINT) AS nb
          FROM documents WHERE source = 'src1' GROUP BY 1),
        ab AS (SELECT COALESCE(ca.c, cb.c) AS c, COALESCE(na, 0) AS na,
            COALESCE(nb, 0) AS nb
          FROM ca FULL OUTER JOIN cb ON ca.c = cb.c),
        tot AS (SELECT CAST(COALESCE(SUM(na), 0) AS BIGINT) AS n_a,
            CAST(COALESCE(SUM(nb), 0) AS BIGINT) AS n_b FROM ab),
        agg AS (SELECT n_a, n_b, CAST(count(*) AS BIGINT) AS n_categories,
            CAST(COALESCE(SUM(ABS(na * n_b - nb * n_a)), 0) AS BIGINT) AS num
          FROM ab, tot GROUP BY n_a, n_b)
        SELECT n_a, n_b, n_categories,
          CASE WHEN n_a = 0 OR n_b = 0 THEN 0.0
            ELSE ROUND(CAST(num AS DOUBLE)
              / (2.0 * CAST(n_a AS DOUBLE) * n_b), 6) END AS tvd,
          ((n_a = 0) <> (n_b = 0)) OR
          CASE WHEN n_a = 0 OR n_b = 0 THEN 0.0
            ELSE ROUND(CAST(num AS DOUBLE)
              / (2.0 * CAST(n_a AS DOUBLE) * n_b), 6) END > 0.1 AS drifted
        FROM agg""")),

    // ✚ PSI drift (round 12): the score-monitoring industry's standard
    // alarm beside KS and TVD — src0-vs-src1 doc lengths on the same
    // integer lattice, eps-floored shares, round-6 ulp rule.
    Q("pipeline_drift_psi",
      (s, d) => {
        val docs = t(s, d, "documents")
        Pipeline.psiDrift(docs.filter(col("source") === "src0"),
          docs.filter(col("source") === "src1"), col("n_chars"),
          0L, 32L, 20, 0.2)
      },
      Some("""WITH ba AS (SELECT LEAST(19, GREATEST(0,
            CAST(FLOOR((CAST(n_chars AS BIGINT) - 0) / 32) AS INTEGER))) AS bucket,
            CAST(count(*) AS BIGINT) AS na
          FROM documents WHERE source = 'src0' GROUP BY 1),
        bb AS (SELECT LEAST(19, GREATEST(0,
            CAST(FLOOR((CAST(n_chars AS BIGINT) - 0) / 32) AS INTEGER))) AS bucket,
            CAST(count(*) AS BIGINT) AS nb
          FROM documents WHERE source = 'src1' GROUP BY 1),
        ab AS (SELECT COALESCE(na, 0) AS na, COALESCE(nb, 0) AS nb
          FROM ba FULL OUTER JOIN bb ON ba.bucket = bb.bucket),
        tot AS (SELECT CAST(COALESCE(SUM(na), 0) AS BIGINT) AS n_a,
            CAST(COALESCE(SUM(nb), 0) AS BIGINT) AS n_b FROM ab),
        terms AS (SELECT n_a, n_b,
            (GREATEST(CAST(na AS DOUBLE) / n_a, 1e-6)
              - GREATEST(CAST(nb AS DOUBLE) / n_b, 1e-6)) AS d,
            ln(GREATEST(CAST(na AS DOUBLE) / n_a, 1e-6)
              / GREATEST(CAST(nb AS DOUBLE) / n_b, 1e-6)) AS l
          FROM ab, tot WHERE n_a > 0 AND n_b > 0),
        agg AS (SELECT n_a, n_b, ROUND(SUM(d * l), 6) AS psi
          FROM terms GROUP BY n_a, n_b)
        SELECT n_a, n_b, psi,
          ((n_a = 0) <> (n_b = 0)) OR psi > 0.2 AS drifted FROM agg""")),

    // ✚ eval-integrity canaries (round 12): plant 8 salted-md5 canary
    // docs, detect them back — one max(contains) aggregate; the oracle
    // regenerates the same strings from the same md5.
    Q("pipeline_canary_check",
      (s, d) => Pipeline.detectCanaries(
        Pipeline.insertCanaries(t(s, d, "documents"), "doc_id", "text",
          "source", 8, "graft_cn_", 1000000L),
        "text", 8, "graft_cn_"),
      Some("""WITH c AS (SELECT 'canary-' ||
          substr(md5('graft_cn_' || CAST(i AS VARCHAR)), 1, 24) AS cs
          FROM generate_series(0, 7) t(i)),
        corpus AS (SELECT text FROM documents UNION ALL SELECT cs FROM c),
        hits AS (SELECT cs FROM c
          WHERE EXISTS (SELECT 1 FROM corpus WHERE contains(corpus.text, c.cs)))
        SELECT CAST(8 AS BIGINT) AS n_canaries,
          CAST((SELECT count(*) FROM hits) AS BIGINT) AS n_detected,
          (SELECT count(*) FROM hits) = 8 AS all_present""")),

    // ✚ data-repetition planner (round 12): epochs per source under a
    // 3-1-…-1 mix and a 1M-token budget — integer masses, integer
    // DIV targets, one rounded division per row.
    Q("pipeline_epochs",
      (s, d) => Pipeline.epochsPlan(t(s, d, "documents"), "source", "text",
        Map("src0" -> 3L), 1L, 1000000L),
      Some("""WITH mass AS (SELECT source,
          CAST(SUM(len(list_filter(string_split(text, ' '), t -> t <> '')))
            AS BIGINT) AS n_tokens,
          CAST(CASE WHEN source = 'src0' THEN 3 ELSE 1 END AS BIGINT) AS part
          FROM documents GROUP BY source),
        tot AS (SELECT CAST(SUM(part) AS BIGINT) AS total_parts FROM mass)
        SELECT source, n_tokens, part,
          CAST(1000000 * part // total_parts AS BIGINT) AS target_tokens,
          CASE WHEN n_tokens = 0 THEN NULL
            ELSE ROUND(CAST(1000000 * part // total_parts AS DOUBLE)
              / n_tokens, 4) END AS epochs,
          COALESCE(CASE WHEN n_tokens = 0 THEN NULL
            ELSE ROUND(CAST(1000000 * part // total_parts AS DOUBLE)
              / n_tokens, 4) END > 1.0, FALSE) AS repeats
        FROM mass, tot""")),

    // ✚ weighted sampling (round 12): A-ES exponential race — the n=64
    // largest ln(u)/w keys are an exact length-proportional
    // without-replacement sample; map-only + TakeOrdered.
    Q("pipeline_sample_weighted",
      (s, d) => Pipeline.weightedSample(t(s, d, "documents"), "doc_id",
        col("n_chars"), 64, "graft_ws_"),
      Some(s"""WITH k AS (SELECT doc_id, CAST(n_chars AS DOUBLE) AS weight,
          ROUND(ln((${sqlMd5Hash32("'graft_ws_' || CAST(doc_id AS VARCHAR)")}
            + 0.5) / 4294967296.0) / CAST(n_chars AS DOUBLE), 12) AS key
          FROM documents WHERE n_chars > 0)
        SELECT doc_id, weight, key FROM k
        ORDER BY key DESC, doc_id ASC LIMIT 64""")),

    // ✚ per-source frequency cap (Pipeline.sourceCap): the
    // Common-Crawl domain cap — keep ≤10 docs per source by salted-md5
    // rank. The Spark side runs the TWO-LEVEL blocked top-k (blockDocs
    // 64 so the block stage actually engages at sf0.01 — 500 ids span
    // 8 blocks); the oracle states the equivalent ONE-window global
    // rank, so the hash check IS the two-level ≡ global proof on real
    // data (the spec adds the skew case).
    Q("pipeline_source_cap",
      (s, d) => Pipeline.sourceCap(t(s, d, "documents"), "doc_id", "source",
        10, "graft_cap_", 64),
      Some(s"""SELECT doc_id, source, rk FROM (
        SELECT doc_id, source, CAST(row_number() OVER (PARTITION BY source
          ORDER BY ${sqlMd5Hash32("'graft_cap_' || CAST(doc_id AS VARCHAR)")},
            doc_id) AS INTEGER) AS rk
        FROM documents) t WHERE rk <= 10""")),

    // ✚ deterministic global training-order shuffle (Pipeline.
    // globalShuffle): corpus-wide position by (md5(salt‖id), id) rank —
    // the blocked two-phase prefix sum with unit weights over hash
    // ranges, so no global-sort/single-task row_number appears anywhere
    Q("pipeline_shuffle",
      (s, d) => Pipeline.globalShuffle(t(s, d, "documents"), "doc_id",
        "graft_shuf_"),
      Some(s"""SELECT doc_id,
        CAST(row_number() OVER (ORDER BY
          ${sqlMd5Hash32("'graft_shuf_' || CAST(doc_id AS VARCHAR)")},
          doc_id) - 1 AS BIGINT) AS pos
        FROM documents""")),

    // ✚ curriculum ordering (Pipeline.curriculumOrder): global training
    // position by (difficulty bin, salted hash, id) — easy bins first,
    // deterministic shuffle within each bin, via the blocked prefix
    // sum over a composite bin<<32|hash key (no global row_number).
    // Difficulty here = distinct-token ratio (integer-derived doubles,
    // so both engines bin identically at the shared edges)
    Q("pipeline_curriculum",
      (s, d) => Pipeline.curriculumOrder(
        t(s, d, "documents").withColumn("ttr",
          size(array_distinct(TextOps.tokens(col("text")))) /
            size(TextOps.tokens(col("text"))).cast("double")),
        "doc_id", "ttr", Seq(0.5, 0.75), "graft_curr_"),
      Some(s"""WITH sc AS (SELECT doc_id,
          len(list_distinct(string_split(text, ' '))) /
            CAST(len(string_split(text, ' ')) AS DOUBLE) AS ttr
          FROM documents)
        SELECT doc_id,
          CAST((CASE WHEN ttr >= 0.5 THEN 1 ELSE 0 END) +
               (CASE WHEN ttr >= 0.75 THEN 1 ELSE 0 END) AS BIGINT) AS bin,
          CAST(row_number() OVER (ORDER BY
            (CASE WHEN ttr >= 0.5 THEN 1 ELSE 0 END) +
              (CASE WHEN ttr >= 0.75 THEN 1 ELSE 0 END),
            ${sqlMd5Hash32("'graft_curr_' || CAST(doc_id AS VARCHAR)")},
            doc_id) - 1 AS BIGINT) AS pos
        FROM sc""")),

    // ✚ token-budget selection (Pipeline.budgetSelect): keep documents
    // whose running-token START in the salted global-shuffle order
    // falls inside a 10k-token budget — nested samples under a fixed
    // salt (the scaling-law subset property).
    Q("pipeline_budget_select",
      (s, d) => Pipeline.budgetSelect(t(s, d, "documents"), "doc_id", "text",
        10000L, "graft_shuf_"),
      Some(s"""WITH p AS (SELECT doc_id,
          CAST(row_number() OVER (ORDER BY
            ${sqlMd5Hash32("'graft_shuf_' || CAST(doc_id AS VARCHAR)")},
            doc_id) - 1 AS BIGINT) AS pos,
          CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens
          FROM documents)
        SELECT doc_id, pos, n_tokens,
          CAST(coalesce(sum(n_tokens) OVER (ORDER BY pos
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
            AS start_offset,
          coalesce(sum(n_tokens) OVER (ORDER BY pos
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) < 10000 AS kept
        FROM p""")),

    // mixture targeting (Pipeline.mixRates): per-lang keep rates that
    // realize a target token-share mixture — achievable size is bound
    // by the scarcest stratum (rate 1 there); one stratum-keyed agg
    // ✚ temperature-tempered mixing (Pipeline.mixRatesTemperature):
    // weights ∝ tokens^0.5 — keep all of the scarcest language,
    // downsample the big ones ∝ n^-0.5. sqrt is correctly rounded per
    // IEEE in both engines, so the rate doubles hash-match exactly.
    Q("pipeline_mix_temperature",
      (s, d) => Pipeline.mixRatesTemperature(t(s, d, "documents"), "lang", "text", 0.5),
      Some("""WITH tok AS (SELECT lang AS stratum,
          CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
          FROM documents GROUP BY lang),
        w AS (SELECT stratum, n_tokens,
          sqrt(CAST(n_tokens AS DOUBLE)) AS w_raw FROM tok),
        m AS (SELECT min(n_tokens / w_raw) AS t_max FROM w)
        SELECT stratum, n_tokens, round(w_raw, 6) AS w_raw,
          round(least(1.0, w_raw * t_max / n_tokens), 6) AS rate
        FROM w CROSS JOIN m""")),

    Q("pipeline_mix_rates",
      (s, d) => Pipeline.mixRates(t(s, d, "documents"), "lang", "text", MixTargets),
      Some {
        // right-joined onto the target VALUES table, mirroring the
        // Spark plan: a targeted stratum absent from the corpus keeps
        // an n_tokens=0 row that collapses every rate to 0 (ADVICE r10)
        val values = MixTargets.toSeq.sortBy(_._1)
          .map { case (k, w) => s"('$k', CAST($w AS DOUBLE))" }.mkString(", ")
        s"""WITH tok AS (SELECT lang AS stratum,
            CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
            FROM documents GROUP BY lang),
          tgt AS (SELECT * FROM (VALUES $values) t(stratum, target_w)),
          w AS (SELECT tgt.stratum, CAST(coalesce(tok.n_tokens, 0) AS BIGINT) AS n_tokens,
            tgt.target_w FROM tgt LEFT JOIN tok ON tok.stratum = tgt.stratum),
          m AS (SELECT min(n_tokens / target_w) AS t_max FROM w)
          SELECT stratum, n_tokens, target_w,
            CASE WHEN n_tokens = 0 THEN 0.0
              ELSE round(least(1.0, target_w * t_max / n_tokens), 6) END AS rate
          FROM w CROSS JOIN m"""
      }),

    // token-budget shard packing: per-lang running start offsets →
    // shard = floor(start / 4096) (streaming-pack rule)
    Q("pipeline_shards",
      (s, d) => Pipeline.shardAssign(t(s, d, "documents"), "doc_id", "lang", 4096),
      Some("""SELECT doc_id, lang AS stratum,
        CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        CAST(COALESCE(SUM(len(string_split(text, ' '))) OVER (PARTITION BY lang
          ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
          AS start_offset,
        CAST(floor(CAST(COALESCE(SUM(len(string_split(text, ' '))) OVER (PARTITION BY lang
          ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
          / 4096) AS BIGINT) AS shard
        FROM documents""")),

    // ✚ per-shard packing QA (round 12): docs/token-mass/fill-factor
    // per (stratum, shard) — the report a packing run publishes (last
    // shard underfills, streaming-pack overshoot ≤ one doc; both
    // visible by design). One map-combined aggregate over shardAssign.
    Q("pipeline_shard_stats",
      (s, d) => Pipeline.shardStats(
        Pipeline.shardAssign(t(s, d, "documents"), "doc_id", "lang", 4096), 4096),
      Some("""WITH sh AS (SELECT doc_id, lang AS stratum,
          len(string_split(text, ' ')) AS n_tokens,
          CAST(floor(CAST(COALESCE(SUM(len(string_split(text, ' '))) OVER (PARTITION BY lang
            ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
            / 4096) AS BIGINT) AS shard
          FROM documents)
        SELECT stratum, shard, count(*) AS n_docs,
          CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
          round(CAST(sum(n_tokens) AS DOUBLE) / 4096, 6) AS fill
        FROM sh GROUP BY stratum, shard""")),

    // corpus DATA CARD: the per-source release report (doc/token mass
    // + corpus share, mean length, distinct-token ratio, predicted-
    // language majority, cross-source exact-dup rate) — integer sums
    // divided once, so both engines compute bit-identical ratios
    Q("pipeline_data_card",
      (s, d) => Pipeline.corpusCard(t(s, d, "documents"),
        "doc_id", "source", "text"),
      Some {
        val (ctes, fin, pred) = sqlLangChain("doc_id, source, text")
        s"""WITH $ctes,
          base AS (SELECT doc_id, source,
              CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
              CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS nd,
              $pred AS plang, md5(lower(text)) AS fp
            FROM $fin),
          m AS (SELECT source, count(*) AS n_docs,
              CAST(sum(nt) AS BIGINT) AS n_tokens,
              CAST(sum(nd) AS BIGINT) AS ndist FROM base GROUP BY source),
          lc AS (SELECT source, plang, count(*) AS c
            FROM base GROUP BY source, plang),
          lt AS (SELECT source, plang AS top_lang FROM (
              SELECT source, plang, row_number() OVER (PARTITION BY source
                ORDER BY c DESC, plang DESC) AS rn FROM lc) WHERE rn = 1),
          rep AS (SELECT fp FROM base GROUP BY fp HAVING count(*) >= 2),
          dp AS (SELECT source, count(*) AS ndup FROM base
            WHERE fp IN (SELECT fp FROM rep) GROUP BY source),
          tot AS (SELECT CAST(sum(nt) AS BIGINT) AS t FROM base)
          SELECT m.source, n_docs, n_tokens,
            round(CAST(n_tokens AS DOUBLE) / t, 6) AS share_tokens,
            round(CAST(n_tokens AS DOUBLE) / n_docs, 2) AS avg_tokens,
            round(CAST(ndist AS DOUBLE) / n_tokens, 6) AS distinct_ratio,
            top_lang,
            round(CAST(COALESCE(ndup, 0) AS DOUBLE) / n_docs, 4) AS dup_rate
          FROM m JOIN lt USING (source) LEFT JOIN dp USING (source)
          CROSS JOIN tot"""
      }),

    // quality scoring: lengths, type-token ratio, stopword ratio
    Q("text_quality",
      (s, d) => t(s, d, "documents").select(
        (Seq(col("doc_id")) ++ TextOps.qualityColumns(col("text"))): _*),
      Some("""SELECT doc_id, CAST(length(text) AS INTEGER) AS n_chars_m,
        CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct_tokens,
        len(list_distinct(string_split(text, ' '))) / CAST(len(string_split(text, ' ')) AS DOUBLE) AS ttr,
        CAST(len(list_filter(string_split(text, ' '), x -> x IN ('the','a','of','and','is'))) AS INTEGER) AS stop_hits,
        len(list_filter(string_split(text, ' '), x -> x IN ('the','a','of','and','is'))) / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stop_ratio
        FROM documents""")),

    // text normalization / scrubbing (TextOps.cleanColumns): URL +
    // e-mail scrub (PII hygiene; regexes valid in Java regex AND RE2),
    // whitespace collapse, adjacent-duplicate-token collapse — pure
    // per-row expressions, zero shuffle
    Q("text_clean",
      (s, d) => t(s, d, "documents").select(
        (Seq(col("doc_id")) ++ TextOps.cleanColumns(col("text"))): _*),
      Some(s"""WITH s AS (SELECT doc_id,
          trim(regexp_replace(regexp_replace(regexp_replace(text,
            '${TextOps.UrlRe}', ' ', 'g'), '${TextOps.EmailRe}', ' ', 'g'),
            ' +', ' ', 'g')) AS sq,
          CAST(len(regexp_extract_all(text, '${TextOps.UrlRe}')) AS INTEGER) AS n_urls,
          CAST(len(regexp_extract_all(text, '${TextOps.EmailRe}')) AS INTEGER) AS n_emails
          FROM documents),
        tks AS (SELECT doc_id, n_urls, n_emails, string_split(sq, ' ') AS tk FROM s),
        kept AS (SELECT doc_id, n_urls, n_emails, tk,
          list_filter(list_transform(generate_series(1, len(tk)),
            i -> CASE WHEN i = 1 OR tk[i] <> tk[i-1] THEN tk[i] END),
            x -> x IS NOT NULL) AS kp FROM tks)
        SELECT doc_id, array_to_string(kp, ' ') AS clean_text, n_urls, n_emails,
          CAST(len(tk) AS INTEGER) AS n_tokens_raw,
          CAST(len(kp) AS INTEGER) AS n_tokens_clean
        FROM kept""")),

    // ✚ PII redaction (TextOps.redactPii): typed placeholders for
    // emails/cards/SSNs/IPs/phones, staged so categories never
    // double-count — both sides generated from the SAME ordered
    // pattern fold (drift-proof). The synthetic corpus carries no PII,
    // so the declared query proves pattern parity end-to-end at
    // n_redacted = 0; the planted redactions live in LlmSpec (the
    // quality-gate "repetitive" precedent).
    Q("text_redact_pii",
      (s, d) => t(s, d, "documents").select(
        (col("doc_id") +: TextOps.redactPii(col("text"))): _*),
      Some {
        val (cleanE, countE) = TextOps.PiiPatterns
          .foldLeft(("text", "0")) { case ((acc, n), (p, r)) =>
            (s"regexp_replace($acc, '$p', '$r', 'g')",
              s"($n + len(regexp_extract_all($acc, '$p')))")
          }
        s"""SELECT doc_id, $cleanE AS clean_text,
          CAST($countE AS BIGINT) AS n_redacted FROM documents"""
      }),

    // corpus vocabulary statistics: per-token term frequency + document
    // frequency, top-20 by tf (total order: tf DESC, tk ASC). Partial
    // agg shuffles only vocabulary-sized data; top-k is
    // TakeOrderedAndProject — no global sort materialization
    // ✚ Count-Min-Sketch heavy hitters (the sketch family beside
    // HLL's approx_distinct): one fixed-seed CMS pass over the token
    // stream, the exact top-10 terms probed against it driver-side
    // (the sketch is KB-scale by construction — the centroid collect
    // discipline). CMS never under-counts and over-counts by ≤ ε·N
    // w.h.p.; with the seed fixed the sketch is deterministic, so the
    // boolean contract is a stable compared column (the
    // approx_distinct precedent — DuckDB checks the exact side + the
    // claimed bounds as literals).
    Q("approx_topk_cms",
      (s, d) => {
        val toks = t(s, d, "documents")
          .select(explode(TextOps.tokens(col("text"))).as("tk"))
        val eps = 0.001
        val sketchBytes = toks.agg(
            count_min_sketch(col("tk"), lit(eps), lit(0.99), lit(42)).as("s"))
          .collect()(0).getAs[Array[Byte]](0)
        val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
          new java.io.ByteArrayInputStream(sketchBytes))
        // the CMS guarantee is est ≤ exact + ε·N_TOTAL (total stream
        // length, not the top-k mass — a top-k-derived bound is
        // STRICTER than the guarantee and can fail a sketch behaving
        // to spec on a flat vocabulary: review r11); fixed seed makes
        // the whole check deterministic on fixed data
        val exact = toks.groupBy(col("tk")).agg(count(lit(1)).as("exact"))
          .orderBy(col("exact").desc, col("tk").asc).limit(10)
          .collect().map(r => (r.getString(0), r.getLong(1)))
        val nTotal = toks.count()
        val spark = s
        import spark.implicits._
        exact.map { case (tk, ex) =>
          val est = cms.estimateCount(tk)
          (tk, ex, est >= ex, est <= ex + (eps * nTotal).toLong)
        }.toSeq.toDF("tk", "exact", "never_under", "within_bound")
      },
      Some("""SELECT tk, CAST(count(*) AS BIGINT) AS exact,
          true AS never_under, true AS within_bound
        FROM (SELECT unnest(string_split(text, ' ')) AS tk FROM documents) p
        GROUP BY tk ORDER BY exact DESC, tk ASC LIMIT 10""")),

    Q("text_vocab",
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tk"))
        .groupBy(col("tk"))
        .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
        .orderBy(col("tf").desc, col("tk").asc).limit(20),
      Some("""SELECT tk, CAST(count(*) AS BIGINT) AS tf,
          CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents) p
        GROUP BY tk ORDER BY tf DESC, tk ASC LIMIT 20""")),

    // ✚ OOV rate (round 12, TextOps.oovRate): per doc, the fraction of
    // tokens outside the corpus's own top-20 vocabulary — the
    // tokenizer-fit diagnostic. Vocab = one map-side token count cut by
    // TakeOrdered (config-sized), broadcast back; per-doc tail is one
    // aggregate. K=20 of 31 distinct corpus tokens, so the OOV tail is
    // real at sf0.01.
    Q("text_oov_rate",
      (s, d) => TextOps.oovRate(t(s, d, "documents"), "doc_id", "text", OovVocabK),
      Some(s"""WITH p AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents),
        v AS (SELECT tk FROM (SELECT tk, count(*) AS tf FROM p GROUP BY tk
            ORDER BY tf DESC, tk ASC LIMIT $OovVocabK) z),
        m AS (SELECT p.doc_id, v.tk AS hit FROM p LEFT JOIN v ON v.tk = p.tk)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
          CAST(count(*) FILTER (WHERE hit IS NULL) AS BIGINT) AS n_oov,
          round(CAST(count(*) FILTER (WHERE hit IS NULL) AS DOUBLE) / count(*), 6)
            AS oov_rate
        FROM m GROUP BY doc_id""")),

    // ✚ BM25 ranked retrieval (TextOps.bm25TopK): Lucene-form idf,
    // k1=1.2 b=0.75, scores summed per doc and rounded to 4dp before
    // ranking. The SQL writes the SAME IEEE expression tree, including
    // `(1.2 + 1)` as an addition — a literal 2.2 is not necessarily
    // the double that 1.2 + 1 computes to.
    Q("text_bm25",
      (s, d) => TextOps.bm25TopK(t(s, d, "documents"), "doc_id", "text",
        Seq("spark", "window"), 15),
      Some("""WITH base AS (SELECT doc_id, len(string_split(text, ' ')) AS dl,
          string_split(text, ' ') AS tk FROM documents),
        tf AS (SELECT doc_id, t2 AS tk, CAST(count(*) AS BIGINT) AS tf
          FROM (SELECT doc_id, unnest(tk) AS t2 FROM base) x
          WHERE t2 IN ('spark', 'window') GROUP BY doc_id, t2),
        df AS (SELECT tk, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tk),
        st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(dl) AS BIGINT) AS sum_dl FROM base),
        sc AS (SELECT b.doc_id,
            ln((n_docs - df + 0.5) / (df + 0.5) + 1) * tf * (1.2 + 1) /
              (tf + 1.2 * (0.25 + 0.75 * dl /
                (CAST(sum_dl AS DOUBLE) / n_docs))) AS s
          FROM (SELECT doc_id, dl FROM base) b JOIN tf ON tf.doc_id = b.doc_id
          JOIN df USING (tk) CROSS JOIN st),
        agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit,
          round(sum(s), 4) AS score FROM sc GROUP BY doc_id),
        top AS (SELECT doc_id, n_hit, score FROM agg
          ORDER BY score DESC, doc_id ASC LIMIT 15)
        SELECT doc_id, n_hit, score, CAST(row_number() OVER
          (ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rk FROM top""")),

    // ✚ PMI collocations (TextOps.pmiTop): top adjacent pairs by
    // pointwise mutual information over positional marginals, min
    // count 5, ranked on the 4dp-rounded score.
    Q("text_pmi_top",
      (s, d) => TextOps.pmiTop(t(s, d, "documents"), "text", 5, 20),
      Some("""WITH tk AS (SELECT string_split(text, ' ') AS tk FROM documents),
        pairs AS (SELECT unnest(list_transform(generate_series(1, len(tk) - 1),
            i -> {'t1': tk[i], 't2': tk[i + 1]})) AS p FROM tk WHERE len(tk) >= 2),
        pp AS (SELECT p.t1 AS t1, p.t2 AS t2 FROM pairs),
        big AS (SELECT t1, t2, CAST(count(*) AS BIGINT) AS c2 FROM pp GROUP BY t1, t2),
        ua AS (SELECT t1, CAST(count(*) AS BIGINT) AS c1a FROM pp GROUP BY t1),
        ub AS (SELECT t2, CAST(count(*) AS BIGINT) AS c1b FROM pp GROUP BY t2),
        n AS (SELECT CAST(sum(c2) AS BIGINT) AS n_pairs FROM big)
        SELECT big.t1, big.t2, c2,
          round(ln(CAST(c2 AS DOUBLE) * n_pairs / (c1a * c1b)), 4) AS pmi
        FROM big JOIN ua USING (t1) JOIN ub USING (t2) CROSS JOIN n
        WHERE c2 >= 5
        ORDER BY pmi DESC, t1 ASC, t2 ASC LIMIT 20""")),

    // ✚ per-document TF-IDF top terms (TextOps.tfIdfTop): keyword
    // extraction — score = tf·ln(N/df) ranked on the 4dp-ROUNDED score
    // (cross-engine ln last-ulp noise can't flip an order the hash
    // sees), ties → term string. One (doc,term) agg + broadcast df +
    // doc-partitioned window.
    Q("text_tfidf_top",
      (s, d) => TextOps.tfIdfTop(t(s, d, "documents"), "doc_id", "text", 3),
      Some("""WITH tf AS (SELECT doc_id, tk, CAST(count(*) AS BIGINT) AS tf
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents) p
          GROUP BY doc_id, tk),
        df AS (SELECT tk, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tk),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        s AS (SELECT doc_id, tf.tk, tf.tf, df.df,
          round(tf.tf * ln(CAST(n_docs AS DOUBLE) / df.df), 4) AS score
          FROM tf JOIN df USING (tk) CROSS JOIN n),
        r AS (SELECT doc_id, tk, tf, df, score, CAST(row_number() OVER
          (PARTITION BY doc_id ORDER BY score DESC, tk ASC) AS INTEGER) AS rk
          FROM s)
        SELECT doc_id, tk, tf, df, score, rk FROM r WHERE rk <= 3""")),

    // context-window chunking (TextOps.chunkTokens): 32-token windows
    // at stride 24 (overlapping) — map-only explode, chunk-output-linear
    Q("text_chunks",
      (s, d) => TextOps.chunkTokens(t(s, d, "documents"), "doc_id", "text", 32, 24),
      Some("""WITH tks AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS tk FROM documents),
        c AS (SELECT doc_id, tk,
          unnest(generate_series(0, CAST(floor((len(tk) - 1) / 24.0) AS INTEGER))) AS ci
          FROM tks)
        SELECT doc_id, CAST(ci AS INTEGER) AS chunk_id,
          array_to_string(tk[ci*24+1 : ci*24+32], ' ') AS chunk_text,
          CAST(len(tk[ci*24+1 : ci*24+32]) AS INTEGER) AS n_chunk_tokens
        FROM c""")),

    // composite quality gate — the Gopher-family filter DECISION: all
    // per-doc signals (token bounds, stopword ratio, type-token ratio,
    // duplicate-trigram fraction, LID agreement) evaluated in ONE
    // map-only pass, failures reported by rule name (fixed order), keep
    // = no failures. The op a prep pipeline actually branches on.
    Q("pipeline_quality_gate",
      (s, d) => Pipeline.qualityGate(t(s, d, "documents"), "doc_id", "text", "lang",
        Pipeline.GateRules(QgMinTokens, QgMaxTokens, QgMinStopRatio, QgMinTtr,
          QgMaxDupTrigram)),
      Some {
        val (ctes, fin, pred) = sqlLangChain("doc_id, lang, text")
        s"""WITH $ctes,
          hh AS (SELECT doc_id, ${sqlMd5Hash32("sh")} AS sh FROM ($sqlShingles3) raw),
          agg AS (SELECT doc_id, CAST(count(*) AS INTEGER) AS nt,
            CAST(count(DISTINCT sh) AS INTEGER) AS nd FROM hh GROUP BY doc_id),
          base AS (SELECT q.doc_id,
            CAST(len(string_split(q.text, ' ')) AS INTEGER) AS n_tokens,
            $sqlStopHitsByLang
              / CAST(len(string_split(q.text, ' ')) AS DOUBLE) AS stopr,
            len(list_distinct(string_split(q.text, ' ')))
              / CAST(len(string_split(q.text, ' ')) AS DOUBLE) AS ttr,
            CASE WHEN a.nt > 0 THEN (a.nt - a.nd) / CAST(a.nt AS DOUBLE)
              ELSE 0.0 END AS dup3,
            $pred AS pred_lang, q.lang AS lang
            FROM $fin q LEFT JOIN agg a ON a.doc_id = q.doc_id),
          gated AS (SELECT doc_id, n_tokens, concat_ws(',',
            CASE WHEN n_tokens < $QgMinTokens THEN 'too_short' END,
            CASE WHEN n_tokens > $QgMaxTokens THEN 'too_long' END,
            CASE WHEN stopr < $QgMinStopRatio THEN 'low_stopwords' END,
            CASE WHEN ttr < $QgMinTtr THEN 'low_ttr' END,
            CASE WHEN dup3 > $QgMaxDupTrigram THEN 'repetitive' END,
            CASE WHEN pred_lang IS DISTINCT FROM lang THEN 'lang_mismatch' END) AS reasons
            FROM base)
          SELECT doc_id, n_tokens, reasons, reasons = '' AS keep FROM gated"""
      }),

    // ✚ trainable Naive-Bayes classifier (Pipeline.nbClassifier): the
    // fasttext-style quality/domain filter — self-labeled here by
    // lang='en', capped vocab broadcast model, one doc-key aggregate to
    // score (the lmScore shape); round(·,4) absorbs ln/summation ulp
    // noise.
    Q("pipeline_nb_classifier",
      (s, d) => Pipeline.nbClassifier(t(s, d, "documents"), "doc_id", "text",
        col("lang") === "en", 4000),
      Some("""WITH tk AS (SELECT doc_id,
          CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y, u.t AS t
          FROM documents, unnest(string_split(text, ' ')) AS u(t)
          WHERE u.t <> ''),
        cnt AS (SELECT t, SUM(y) AS c1, SUM(1 - y) AS c0, count(*) AS tf
          FROM tk GROUP BY t),
        voc AS (SELECT t, c1, c0 FROM cnt ORDER BY tf DESC, t ASC LIMIT 4000),
        tot AS (SELECT SUM(c1) AS n1, SUM(c0) AS n0, count(*) AS v FROM voc),
        model AS (SELECT t,
          ln((c1 + 1.0) / (n1 + v)) - ln((c0 + 1.0) / (n0 + v)) AS llr
          FROM voc, tot),
        prior AS (SELECT ln(
          CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE)
          / SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END)) AS p FROM documents),
        sc AS (SELECT d.doc_id, count(m.llr) AS n_scored,
          ROUND((SELECT p FROM prior) + COALESCE(SUM(m.llr), 0), 4) AS score
          FROM documents d
          LEFT JOIN tk ON tk.doc_id = d.doc_id
          LEFT JOIN model m ON m.t = tk.t
          GROUP BY d.doc_id)
        SELECT doc_id, n_scored, score, score > 0 AS pred FROM sc""")),

    // ✚ CCNet-style LM cross-entropy scoring (Pipeline.lmScore): a
    // capped stupid-backoff bigram model trained on the src1 reference
    // slice scores every other document's per-token cross-entropy —
    // vocabulary-sized training aggs, config-sized broadcast model,
    // one doc-key shuffle to sum. round(·,4) absorbs cross-engine
    // ln/summation last-ulp noise (operator scaladoc).
    Q("pipeline_ppl_score",
      (s, d) => {
        val docs = t(s, d, "documents")
        Pipeline.lmScore(docs.filter(col("source") =!= LmRefSource),
          docs.filter(col("source") === LmRefSource),
          "doc_id", "text", LmTopBigrams, LmTopUnigrams)
      },
      Some(s"""WITH $sqlLmCtes
        SELECT doc_id, n_scored, xent FROM sc""")),

    // ✚ head/middle/tail perplexity bucketing (Pipeline.lmBucket): the
    // CCNet partition decision — tertile thresholds are order
    // statistics of a deterministic md5-bucket sample of the scored
    // docs (config-sized collect, the mixRates discipline), bucket
    // assignment map-only
    Q("pipeline_ppl_bucket",
      (s, d) => {
        val docs = t(s, d, "documents")
        Pipeline.lmBucket(docs.filter(col("source") =!= LmRefSource),
          docs.filter(col("source") === LmRefSource),
          "doc_id", "text", LmTopBigrams, LmTopUnigrams, LmSamplePct, LmSalt)
      },
      Some(s"""WITH $sqlLmCtes,
        sm AS (SELECT xent, row_number() OVER (ORDER BY xent) AS rn,
            count(*) OVER () AS s FROM sc
          WHERE ${sqlMd5Hash32(s"'$LmSalt' || CAST(doc_id AS VARCHAR)")} % 100
              < $LmSamplePct AND n_scored > 0),
        th AS (SELECT
            max(CASE WHEN rn = CAST(ceil(s / 3.0) AS BIGINT) THEN xent END) AS t1,
            max(CASE WHEN rn = CAST(ceil(2 * s / 3.0) AS BIGINT) THEN xent END) AS t2
          FROM sm)
        SELECT doc_id, n_scored, xent,
          CASE WHEN n_scored = 0 THEN 'unscored'
            WHEN xent <= t1 THEN 'head'
            WHEN xent <= t2 THEN 'middle'
            ELSE 'tail' END AS bucket
        FROM sc CROSS JOIN th""")),

    // ✚ DSIR importance resampling (Pipeline.dsirWeights): hashed-bigram
    // importance weights log w = Σ[ln p̂_target − ln p̂_raw] over a fixed
    // 2^16 bucket space — target = src1, raw = a 25% md5 sample of the
    // corpus; two config-sized broadcast count tables, one kernel
    // explode, one doc-key aggregate
    Q("pipeline_dsir",
      (s, d) => {
        val docs = t(s, d, "documents")
        Pipeline.dsirWeights(docs.filter(col("source") =!= LmRefSource),
          docs.filter(col("source") === LmRefSource),
          "doc_id", "text", DsirBuckets, DsirRawPct, DsirSalt, DsirTau)
      },
      Some(s"""WITH tkx AS (SELECT doc_id, source, string_split(text, ' ') AS tk
          FROM documents),
        bg AS (SELECT doc_id, source,
            unnest(list_transform(generate_series(1, len(tk) - 1),
              i -> array_to_string(tk[i:i+1], ' '))) AS g
          FROM tkx WHERE len(tk) >= 2),
        bgh AS (SELECT doc_id, source, ${sqlMd5Hash60("g")} % $DsirBuckets AS b
          FROM bg),
        tg AS (SELECT b, CAST(count(*) AS BIGINT) AS c_t FROM bgh
          WHERE source = '$LmRefSource' GROUP BY b),
        rw AS (SELECT b, CAST(count(*) AS BIGINT) AS c_r FROM bgh
          WHERE source <> '$LmRefSource'
            AND ${sqlMd5Hash32(s"'$DsirSalt' || CAST(doc_id AS VARCHAR)")} % 100
              < $DsirRawPct
          GROUP BY b),
        nt AS (SELECT CAST(sum(c_t) AS DOUBLE) AS n_t FROM tg),
        nr AS (SELECT CAST(sum(c_r) AS DOUBLE) AS n_r FROM rw),
        lw AS (SELECT doc_id,
            ln((coalesce(c_t, 0) + 1.0) / (n_t + CAST($DsirBuckets AS DOUBLE))) -
            ln((coalesce(c_r, 0) + 1.0) / (n_r + CAST($DsirBuckets AS DOUBLE))) AS lw
          FROM bgh LEFT JOIN tg USING (b) LEFT JOIN rw USING (b)
            CROSS JOIN nt CROSS JOIN nr
          WHERE source <> '$LmRefSource'),
        ag AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feat,
            round(sum(lw), 4) AS log_w FROM lw GROUP BY doc_id)
        SELECT d.doc_id, coalesce(ag.n_feat, 0) AS n_feat, ag.log_w,
          coalesce(ag.log_w > $DsirTau, false) AS keep
        FROM documents d LEFT JOIN ag USING (doc_id)
        WHERE d.source <> '$LmRefSource'""")),

    // sequence packing (Pipeline.packSequences over chunkTokens units):
    // chunks packed in (doc, chunk) order into 1024-token training
    // sequences per lang — chunk → pack, the corpus-prep last mile
    Q("pipeline_pack_chunks",
      (s, d) => {
        val docs = t(s, d, "documents")
        val chunks = TextOps.chunkTokens(docs, "doc_id", "text", 32, 24)
          .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        Pipeline.packSequences(chunks, "doc_id", "chunk_id", "lang",
          "n_chunk_tokens", 1024)
      },
      Some("""WITH tks AS (SELECT doc_id, lang, string_split(coalesce(text, ''), ' ') AS tk
          FROM documents),
        c AS (SELECT doc_id, lang, tk,
          unnest(generate_series(0, CAST(floor((len(tk) - 1) / 24.0) AS INTEGER))) AS ci
          FROM tks),
        u AS (SELECT doc_id, CAST(ci AS INTEGER) AS chunk_id, lang AS stratum,
          CAST(len(tk[ci*24+1 : ci*24+32]) AS INTEGER) AS n_tokens FROM c)
        SELECT doc_id, chunk_id, stratum, n_tokens,
          CAST(coalesce(SUM(n_tokens) OVER (PARTITION BY stratum
            ORDER BY doc_id, chunk_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
            AS start_offset,
          CAST(floor(CAST(coalesce(SUM(n_tokens) OVER (PARTITION BY stratum
            ORDER BY doc_id, chunk_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
            / 1024) AS BIGINT) AS seq_id
        FROM u""")),

    // ✚ sequence packing under TOKENIZER-FAITHFUL counts (VERDICT r10
    // order #10's rewiring): non-overlapping 32-word chunks budgeted by
    // their greedy-subword counts (plans.SubwordCount) instead of
    // whitespace counts — the pack a real training job runs, since
    // sequence capacity is subword tokens. Same blocked two-phase
    // prefix sum; the oracle re-derives per-chunk subword mass by
    // summing the word-level recursive-CTE counts over each ordinal
    // 32-word slice (chunk counts are word-separable because chunks
    // split on whitespace).
    Q("pipeline_pack_subword",
      (s, d) => {
        val docs = t(s, d, "documents")
        val chunks = TextOps.chunkTokens(docs, "doc_id", "text", 32, 32)
          .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
          .withColumn("n_sub", graft.plans.SubwordCount(
            TextOps.tokens(lower(col("chunk_text"))), TextOps.SubwordVocab))
        Pipeline.packSequences(chunks, "doc_id", "chunk_id", "lang", "n_sub", 1024)
      },
      Some {
        val vals = TextOps.SubwordVocab.map(v => s"('$v')").mkString(",")
        s"""WITH RECURSIVE
        tks AS (SELECT doc_id, lang, string_split(lower(coalesce(text, '')), ' ') AS tk
          FROM documents),
        wp AS (SELECT doc_id, lang, unnest(tk) AS w, generate_subscripts(tk, 1) AS ord
          FROM tks),
        dw AS (SELECT DISTINCT w FROM wp),
        step(w, pos, cnt) AS (
          SELECT w, 1, 0 FROM dw
          UNION ALL
          SELECT w,
            pos + coalesce((SELECT max(length(v)) FROM (VALUES $vals) vocab(v)
                            WHERE substr(w, pos, length(v)) = v), 1),
            cnt + 1
          FROM step WHERE pos <= length(w)),
        counts AS (SELECT w, max(cnt) AS n FROM step GROUP BY w),
        u AS (SELECT wp.doc_id, CAST((wp.ord - 1) // 32 AS INTEGER) AS chunk_id,
            wp.lang AS stratum, CAST(sum(c.n) AS INTEGER) AS n_tokens
          FROM wp JOIN counts c USING (w)
          GROUP BY wp.doc_id, (wp.ord - 1) // 32, wp.lang)
        SELECT doc_id, chunk_id, stratum, n_tokens,
          CAST(coalesce(SUM(n_tokens) OVER (PARTITION BY stratum
            ORDER BY doc_id, chunk_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
            AS start_offset,
          CAST(floor(CAST(coalesce(SUM(n_tokens) OVER (PARTITION BY stratum
            ORDER BY doc_id, chunk_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
            / 1024) AS BIGINT) AS seq_id
        FROM u"""
      }),

    // token counting: whitespace + regex ("BPE-ish") + distinct
    Q("text_tokens",
      (s, d) => t(s, d, "documents").select(
        col("doc_id"),
        size(TextOps.tokens(col("text"))).as("ws_tokens"),
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+"), lit(0))).as("re_tokens"),
        size(array_distinct(TextOps.tokens(col("text")))).as("distinct_tokens")),
      Some("""SELECT doc_id, CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
        CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS INTEGER) AS re_tokens,
        CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS distinct_tokens
        FROM documents""")),

    // ✚ repetition scoring (the Gopher-family quality signal): the
    // fraction of a document's trigrams that are duplicates — high
    // values flag boilerplate/templated text a prep pipeline drops.
    // Same compiled shingle kernel as the dedup family; map-only.
    Q("text_repetition",
      (s, d) => {
        val sh = graft.plans.NGramMd5(TextOps.tokens(col("text")), 3, 8)
        t(s, d, "documents").select(col("doc_id"),
          size(sh).as("n_trigrams"),
          size(array_distinct(sh)).as("n_distinct_trigrams"),
          when(size(sh) > 0,
            (size(sh) - size(array_distinct(sh))).cast("double")
              / size(sh).cast("double"))
            .otherwise(0.0).as("dup_trigram_frac"))
      },
      Some(s"""WITH h AS (SELECT doc_id, ${sqlMd5Hash32("sh")} AS sh
          FROM ($sqlShingles3) raw),
        agg AS (SELECT doc_id, CAST(count(*) AS INTEGER) AS n_trigrams,
          CAST(count(DISTINCT sh) AS INTEGER) AS n_distinct_trigrams
          FROM h GROUP BY doc_id)
        SELECT d.doc_id, coalesce(a.n_trigrams, 0) AS n_trigrams,
          coalesce(a.n_distinct_trigrams, 0) AS n_distinct_trigrams,
          CASE WHEN a.n_trigrams > 0
            THEN (a.n_trigrams - a.n_distinct_trigrams) / CAST(a.n_trigrams AS DOUBLE)
            ELSE 0.0 END AS dup_trigram_frac
        FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id""")),

    // document fingerprinting: md5 + Karp-Rabin rolling hash
    Q("text_fingerprint",
      (s, d) => t(s, d, "documents").select(
        col("doc_id"),
        TextOps.fingerprint(col("text")).as("fp"),
        TextOps.rollingHash(col("text")).as("roll")),
      Some(s"""SELECT doc_id, md5(lower(text)) AS fp,
        CASE WHEN length(text) = 0 THEN 0
          ELSE list_reduce(list_transform(generate_series(1, length(text)),
            i -> CAST(ascii(substr(text, i, 1)) AS BIGINT)),
            (a, x) -> (a * 31 + x) % ${TextOps.RollMod}) END AS roll
        FROM documents""")),

    // ✚ Unicode canonicalization (TextOps.normalizeText): NFC + accent
    // strip + root-locale lower, the pre-dedup key normalization. The
    // fixture corpus is ASCII (a fixed point of every step above
    // lowercase), so the oracle proves the ASCII path; the Unicode
    // semantics are pinned by LlmSpec's planted diacritics — declared
    // scope (kernel scaladoc).
    Q("text_normalize",
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"), TextOps.normalizeText(col("text")).as("norm")),
      Some("""SELECT doc_id,
        lower(strip_accents(nfc_normalize(text))) AS norm FROM documents""")),

    // ✚ winnowing fingerprints (TextOps.winnow — the MOSS algorithm):
    // rightmost-min of every 8-window over the 4-gram hashes, compiled
    // kernel; any shared 11-token run shares a fingerprint. The oracle
    // replays window minima + rightmost tie-break with nested lambdas;
    // selections are monotone in position, so its DISTINCT equals the
    // kernel's adjacent-repeat collapse.
    Q("text_winnow",
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"), explode(TextOps.winnow(col("text"), 4, 8)).as("sel"))
        .select(col("doc_id"), col("sel.pos").as("pos"), col("sel.fp").as("fp")),
      Some(s"""WITH tkx AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        hv AS (SELECT doc_id, list_transform(generate_series(1, len(tk) - 3),
            i -> ${sqlMd5Hash32("array_to_string(tk[i:i+3], ' ')")}) AS h
          FROM tkx WHERE len(tk) >= 4),
        ps AS (SELECT doc_id, h, unnest(list_transform(
            generate_series(1, greatest(len(h) - 7, 1)),
            i -> list_max(list_transform(generate_series(i, least(i + 7, len(h))),
              j -> CASE WHEN h[j] = list_min(h[i:least(i + 7, len(h))])
                THEN j ELSE 0 END)))) AS p
          FROM hv)
        SELECT DISTINCT doc_id, CAST(p - 1 AS INTEGER) AS pos, h[p] AS fp
        FROM ps""")),

    // ✚ winnow-fingerprint near-dup pairs (Dedup.winnowPairs — the
    // MOSS application): docs sharing ≥1 selected fingerprint, df-cap
    // 100 dropping boilerplate fingerprints pre-join. The inverted
    // index is winnow-sparse (~2/(w+1) of the k-gram hashes), the
    // guarantee positional: any shared 11-token run pairs.
    Q("dedup_winnow",
      (s, d) => Dedup.winnowPairs(t(s, d, "documents"), "doc_id", "text",
        4, 8, 100, 1),
      Some(s"""WITH tkx AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        hv AS (SELECT doc_id, list_transform(generate_series(1, len(tk) - 3),
            i -> ${sqlMd5Hash32("array_to_string(tk[i:i+3], ' ')")}) AS h
          FROM tkx WHERE len(tk) >= 4),
        ps AS (SELECT doc_id, h, unnest(list_transform(
            generate_series(1, greatest(len(h) - 7, 1)),
            i -> list_max(list_transform(generate_series(i, least(i + 7, len(h))),
              j -> CASE WHEN h[j] = list_min(h[i:least(i + 7, len(h))])
                THEN j ELSE 0 END)))) AS p
          FROM hv),
        fp0 AS (SELECT DISTINCT doc_id, h[p] AS fp FROM ps),
        fpd AS (SELECT doc_id, fp FROM (SELECT doc_id, fp,
            count(*) OVER (PARTITION BY fp) AS df FROM fp0) z WHERE df <= 100)
        SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(count(*) AS BIGINT) AS n_shared
        FROM fpd a JOIN fpd b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY d1, d2 HAVING count(*) >= 1""")),

    // ✚ tokenizer-faithful token counts (TextOps.subwordCount
    // scaladoc): greedy longest-match subword segmentation over the
    // fixed fixture vocab, as one compiled kernel pass — the count a
    // sequence-budgeting pipeline uses when the real tokenizer is
    // subword. The oracle REPLAYS the greedy automaton with a
    // recursive CTE (one step per consumed subword) over the DISTINCT
    // words, then re-weights by word multiplicity — vocab literals are
    // interpolated from the same Scala constant, drift-proof.
    Q("text_subword",
      (s, d) => t(s, d, "documents").select(col("doc_id"),
        TextOps.subwordCount(col("text")).as("n_subwords")),
      Some {
        val vals = TextOps.SubwordVocab.map(v => s"('$v')").mkString(",")
        s"""WITH RECURSIVE
        words AS (
          SELECT doc_id, w, count(*) AS mult FROM (
            SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
            FROM documents) t
          GROUP BY doc_id, w),
        dw AS (SELECT DISTINCT w FROM words),
        step(w, pos, cnt) AS (
          SELECT w, 1, 0 FROM dw
          UNION ALL
          SELECT w,
            pos + coalesce((SELECT max(length(v)) FROM (VALUES $vals) vocab(v)
                            WHERE substr(w, pos, length(v)) = v), 1),
            cnt + 1
          FROM step WHERE pos <= length(w)),
        counts AS (SELECT w, max(cnt) AS n FROM step GROUP BY w)
        SELECT wo.doc_id, CAST(sum(wo.mult * c.n) AS INTEGER) AS n_subwords
        FROM words wo JOIN counts c USING (w) GROUP BY wo.doc_id"""
      }),

    // ✚ tokenizer fertility report (round 12): chars-per-subword-token
    // by (lang, source) — the per-language tokenizer-cost diagnostic a
    // vocab owner tracks (high fertility = the vocab underserves that
    // slice). Integer char and subword sums divided ONCE (the data-card
    // ratio discipline); the oracle replays the greedy automaton over
    // DISTINCT words and aggregates the same integers.
    Q("text_fertility",
      (s, d) => t(s, d, "documents").select(col("lang"), col("source"),
          TextOps.subwordCount(col("text")).cast("long").as("nsw"),
          aggregate(transform(TextOps.tokens(lower(col("text"))),
            w => length(w).cast("long")), lit(0L), (a, x) => a + x).as("nch"))
        .groupBy(col("lang"), col("source"))
        .agg(sum(col("nch")).as("n_chars"), sum(col("nsw")).as("n_subwords"))
        .select(col("lang"), col("source"), col("n_chars"), col("n_subwords"),
          when(col("n_subwords") === 0, lit(0.0))
            .otherwise(round(col("n_chars").cast("double") / col("n_subwords"), 6))
            .as("fertility")),
      Some {
        val vals = TextOps.SubwordVocab.map(v => s"('$v')").mkString(",")
        s"""WITH RECURSIVE
        words AS (
          SELECT doc_id, w, count(*) AS mult FROM (
            SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
            FROM documents) t
          GROUP BY doc_id, w),
        dw AS (SELECT DISTINCT w FROM words),
        step(w, pos, cnt) AS (
          SELECT w, 1, 0 FROM dw
          UNION ALL
          SELECT w,
            pos + coalesce((SELECT max(length(v)) FROM (VALUES $vals) vocab(v)
                            WHERE substr(w, pos, length(v)) = v), 1),
            cnt + 1
          FROM step WHERE pos <= length(w)),
        counts AS (SELECT w, max(cnt) AS n FROM step GROUP BY w),
        perdoc AS (SELECT wo.doc_id,
            CAST(sum(wo.mult * c.n) AS BIGINT) AS nsw,
            CAST(sum(wo.mult * length(wo.w)) AS BIGINT) AS nch
          FROM words wo JOIN counts c USING (w) GROUP BY wo.doc_id)
        SELECT d.lang, d.source,
          CAST(sum(p.nch) AS BIGINT) AS n_chars,
          CAST(sum(p.nsw) AS BIGINT) AS n_subwords,
          CASE WHEN sum(p.nsw) = 0 THEN 0.0
            ELSE ROUND(CAST(sum(p.nch) AS DOUBLE) / sum(p.nsw), 6) END AS fertility
        FROM documents d JOIN perdoc p USING (doc_id)
        GROUP BY d.lang, d.source"""
      }),

    // multimodal frame-sampling over REAL decodes: image rows (PNG/PPM
    // via ImageCodec) decimate pixels stride-4 and audio rows (WAV via
    // AudioCodec) keep every 4th PCM sample — the oracle recomputes
    // both expected streams arithmetically (genImage's / genAudio's
    // formulas) and md5s the same ASCII-safe byte strings, proving
    // encode→decode→sample round-trips exactly for both codecs.
    // Video rows keep the byte-stride sample of the text payload.
    Q("multimodal_frames",
      (s, d) => Multimodal.sampleBytes(
          Multimodal.packAsMedia(t(s, d, "documents")), 4)
        .select(col("media_id"), col("n_sampled"), md5(col("sampled")).as("fp")),
      Some("""SELECT doc_id AS media_id,
        CAST(CASE WHEN doc_id % 3 = 0
          THEN ((doc_id % 13 + 4) // 4) * ((doc_id % 7 + 4) // 4) * 3
          WHEN doc_id % 3 = 1 THEN (doc_id % 40 + 5 + 3) // 4
          ELSE len(generate_series(1, length(text), 4)) END AS INTEGER) AS n_sampled,
        CASE WHEN doc_id % 3 = 0
          THEN md5(array_to_string(flatten(flatten(
            list_transform(generate_series(0, CAST((doc_id % 7 + 4) // 4 AS INTEGER) - 1), y ->
              list_transform(generate_series(0, CAST((doc_id % 13 + 4) // 4 AS INTEGER) - 1), x ->
                list_transform(generate_series(0, 2), c ->
                  chr(CAST((doc_id + 4*x*7 + 4*y*11 + c*5) % 96 + 32 AS INTEGER))))))), ''))
          WHEN doc_id % 3 = 1
          THEN md5(array_to_string(
            list_transform(generate_series(0, CAST((doc_id % 40 + 5 + 3) // 4 AS INTEGER) - 1),
              j -> chr(CAST((doc_id + 4*j*13) % 96 + 32 AS INTEGER))), ''))
          ELSE md5(array_to_string(list_transform(generate_series(1, length(text), 4),
            i -> substr(text, i, 1)), '')) END AS fp
        FROM documents""")),

    // ✚ multimodal AUDIO decode (AudioCodec scaladoc): audio rows carry
    // REAL RIFF/WAVE PCM (genAudio rendered through encodeWav); decode
    // parses the container (fmt/data chunks, sizes validated) and the
    // stats are integer arithmetic over the samples, which the oracle
    // recomputes from the generator's formula — proving the header
    // fields (rate, depth) and every sample byte round-trip exactly
    Q("multimodal_audio",
      (s, d) => Multimodal.audioStats(
        Multimodal.packAsMedia(t(s, d, "documents"))),
      Some("""SELECT doc_id AS media_id,
        8000 AS sample_rate,
        CAST(doc_id % 40 + 5 AS INTEGER) AS n_samples,
        CAST((doc_id % 40 + 5) // 8 AS BIGINT) AS duration_ms,
        CAST(list_sum(list_transform(generate_series(0, CAST(doc_id % 40 + 4 AS INTEGER)),
          i -> (doc_id + i*13) % 96 + 32)) AS BIGINT) AS sum_amp,
        CAST(list_max(list_transform(generate_series(0, CAST(doc_id % 40 + 4 AS INTEGER)),
          i -> (doc_id + i*13) % 96 + 32)) AS INTEGER) AS peak_amp
        FROM documents WHERE doc_id % 3 = 1""")),

    // ✚ multimodal RESIZE (Multimodal.downscale scaladoc): real
    // decode → 2×2 box-filter average → integer pixels; the oracle
    // recomputes every averaged pixel arithmetically from genImage's
    // formula (edge boxes clamped) and md5s the same byte string —
    // proving encode→decode→average round-trips exactly
    Q("multimodal_resize",
      (s, d) => Multimodal.downscale(
          Multimodal.packAsMedia(t(s, d, "documents")), 2)
        .select(col("media_id"), col("width"), col("height"),
          md5(col("resized")).as("fp")),
      Some("""SELECT doc_id AS media_id,
        CAST((doc_id % 13 + 2) // 2 AS INTEGER) AS width,
        CAST((doc_id % 7 + 2) // 2 AS INTEGER) AS height,
        md5(array_to_string(flatten(flatten(
          list_transform(generate_series(0, CAST((doc_id % 7 + 2) // 2 AS INTEGER) - 1), y ->
            list_transform(generate_series(0, CAST((doc_id % 13 + 2) // 2 AS INTEGER) - 1), x ->
              list_transform(generate_series(0, 2), c ->
                chr(CAST(list_sum(flatten(
                  list_transform(generate_series(0, CASE WHEN 2*y+1 < doc_id % 7 + 1 THEN 1 ELSE 0 END), dy ->
                    list_transform(generate_series(0, CASE WHEN 2*x+1 < doc_id % 13 + 1 THEN 1 ELSE 0 END), dx ->
                      (doc_id + (2*x+dx)*7 + (2*y+dy)*11 + c*5) % 96 + 32))))
                  // ((CASE WHEN 2*y+1 < doc_id % 7 + 1 THEN 2 ELSE 1 END)
                    * (CASE WHEN 2*x+1 < doc_id % 13 + 1 THEN 2 ELSE 1 END)) AS INTEGER))))))), '')) AS fp
        FROM documents WHERE doc_id % 3 = 0""")),

    // binary payload + batch decode via mapPartitions. Image rows carry
    // real PNG (even ids) / PPM (odd ids) bytes decoded by ImageCodec
    // (n_bytes = decoded pixel count); audio rows carry real WAV bytes
    // decoded by AudioCodec (n_bytes = sample count, width = channels,
    // height = bit depth, duration from the rate). Video falls back to
    // the documented deterministic pseudo-decode of the text bytes.
    Q("multimodal_meta",
      (s, d) => Multimodal.extractMeta(Multimodal.packAsMedia(t(s, d, "documents"))),
      Some("""SELECT doc_id AS media_id,
        CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio'
          ELSE 'video' END AS kind,
        CAST(CASE WHEN doc_id % 3 = 0 THEN (doc_id % 13 + 1) * (doc_id % 7 + 1) * 3
          WHEN doc_id % 3 = 1 THEN doc_id % 40 + 5
          ELSE octet_length(encode(text)) END AS BIGINT) AS n_bytes,
        CAST(CASE WHEN doc_id % 3 = 0 THEN doc_id % 13 + 1
          WHEN doc_id % 3 = 1 THEN 1
          ELSE ascii(substr(text, 1, 1)) + 1 END AS INTEGER) AS width,
        CAST(CASE WHEN doc_id % 3 = 0 THEN doc_id % 7 + 1
          WHEN doc_id % 3 = 1 THEN 8
          ELSE ascii(substr(text, 2, 1)) + 1 END AS INTEGER) AS height,
        CAST(CASE WHEN doc_id % 3 = 0 THEN 0
          WHEN doc_id % 3 = 1 THEN (doc_id % 40 + 5) // 8
          ELSE octet_length(encode(text)) * 10 END AS BIGINT) AS duration_ms
        FROM documents"""))
  )
}
