"""DuckDB oracle builders for trained-model queries (round-10 golden
conversion).

Until round 9 the k-means / IVF / IMI-dependent queries value-checked
against frozen golden parquet snapshots — the oracle READ the expected
answer. The trained artifacts themselves are tiny deterministic
matrices (seeded init, bounded hash-spread sample, exact decimal
updates), so they are frozen ONCE as float literals
(queries/_trained_sf001.py, regenerated by
tools/freeze_trained_artifacts.py) and inlined here as VALUES
relations; DuckDB then RECOMPUTES assignment, probing, pruning, and
scoring live from the raw parquet — the same move that took the
MinHash permutation constants live in round 9.

Cross-engine float discipline:

- squared-L2 distance: ``list_sum(list_transform(...))`` — verified
  bit-identical to Spark's sequential ``aggregate(zip_with(...))``
  fold on the sf0.01 corpus (and the argmin tiebreak is (d2, cell) in
  both engines);
- cosine: DuckDB ``list_cosine_similarity`` vs Spark's dot/norm fold —
  the established suite-wide pairing, exact at the ROUND(...,4)
  output grid;
- every numpy distance kernel (``similarity._seq_d2``: assignment,
  training, IMI halves and probes, PQ codes and ADC tables) is the
  same sequential fold, so its argmin is the (d2, cell) pick of both
  engines; the pruning threshold carries a documented 4.7e-4 margin
  at sf0.01 — far beyond ulp noise.

Round 11 de-pinning: the VALUES constants are trained per corpus, so
every builder takes an ``sf`` tag and reads the matching frozen
artifact module (``_trained_sf0001`` / ``_trained_sf001`` /
``_trained_sf01``). Registrations pass ``oracle_by_sf=per_sf(...)``
so the local suite value-checks the trained paths at whichever SF it
runs — no ``oracle_sf`` redirect remains for these families.
"""

from __future__ import annotations

import importlib

_MODULE_BY_SF = {
    "sf0.001": "_trained_sf0001",
    "sf0.01": "_trained_sf001",
    "sf0.1": "_trained_sf01",
}
#: every SF with a frozen artifact set (= every SF the suite runs at)
ORACLE_SFS: tuple[str, ...] = tuple(_MODULE_BY_SF)


def artifacts(sf: str):
    """The frozen-artifact literals module for an SF tag."""
    return importlib.import_module(
        f"flink_framework_spark.queries.{_MODULE_BY_SF[sf]}"
    )


def per_sf(build) -> dict[str, str]:
    """``{sf: build(sf)}`` over every frozen-artifact SF — the value
    for ``register(oracle_by_sf=...)``."""
    return {sf: build(sf) for sf in ORACLE_SFS}


def _dlit(v: float) -> str:
    """A float literal DuckDB parses EXACTLY as DOUBLE. Bare decimal
    literals parse as DECIMAL and the DECIMAL->DOUBLE conversion is
    off by 1 ulp for ~15% of 17-significant-digit values (measured);
    exponent notation parses straight to DOUBLE via correctly-rounded
    strtod, bit-exact for every frozen artifact value
    (tests/test_trained_artifacts.py sweeps all of them)."""
    return f"{float(v):.17e}"


def _values_cells(centroids, name: str) -> str:
    """``name(cell, cv)`` VALUES relation from [(cell, vector)]."""
    rows = ", ".join(
        f"({int(c)}, [{', '.join(_dlit(x) for x in v)}]::DOUBLE[])"
        for c, v in centroids
    )
    return f"{name}(cell, cv) AS (VALUES {rows})"


def _assign_ctes(
    centroids,
    cells_name: str = "c",
    out_name: str = "asg",
    lo: int = 1,
    hi: int | None = None,
) -> str:
    """CTE chain assigning every embeddings row to its nearest
    centroid over vector positions [lo, hi] (1-based, inclusive;
    defaults to the full vector): ``out_name(vec_id, cell, d2)`` with
    the (d2, cell) argmin tiebreak both engines share."""
    dim = len(centroids[0][1])
    if hi is None:
        hi = lo + dim - 1
    assert hi - lo + 1 == dim, "centroid dim must match the slice"
    return f"""{_values_cells(centroids, cells_name)},
{out_name}_d AS (
  SELECT e.vec_id, {cells_name}.cell,
         list_sum(list_transform(range({lo}, {hi + 1}),
           i -> (CAST(e.embedding[i] AS DOUBLE)
                   - {cells_name}.cv[i - {lo - 1}])
              * (CAST(e.embedding[i] AS DOUBLE)
                   - {cells_name}.cv[i - {lo - 1}]))) AS d2
  FROM embeddings e CROSS JOIN {cells_name}),
{out_name} AS (
  SELECT vec_id, cell, d2 FROM (
    SELECT vec_id, cell, d2,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY d2, cell) AS rn
    FROM {out_name}_d) WHERE rn = 1)"""


def kmeans_select_sql(sf: str = "sf0.01") -> str:
    """SELECT recomputing q_kmeans live: assign every embedding to
    its nearest FINAL centroid (the 5-round Lloyd's result, inlined)
    and report the rounded squared distance."""
    return f"""
WITH {_assign_ctes(artifacts(sf).KMEANS_CENTROIDS, "kc", "kasg")}
SELECT vec_id, CAST(cell AS BIGINT) AS cluster, ROUND(d2, 4) AS d2
FROM kasg"""


def ivf_topk_select_sql(
    k: int = 5, nprobe: int = 2, sf: str = "sf0.01"
) -> str:
    """SELECT recomputing q_sim_topk_ivf live: corpus cells from the
    inlined IVF centroids, queries (vec_id < 10) probe their nprobe
    nearest cells, candidates join on the cell id, exact cosine
    top-k with id tiebreaks."""
    return f"""
WITH {_assign_ctes(artifacts(sf).IVF_CENTROIDS, "ic", "iasg")},
probes AS (
  SELECT vec_id AS query_id, cell FROM (
    SELECT vec_id, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY d2, cell) AS prn
    FROM iasg_d WHERE vec_id < 10) WHERE prn <= {nprobe}),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                CAST(n.embedding AS DOUBLE[])) AS cos
  FROM probes p
  JOIN iasg a USING (cell)
  JOIN embeddings q ON q.vec_id = p.query_id
  JOIN embeddings n ON n.vec_id = a.vec_id
  WHERE a.vec_id <> p.query_id)
SELECT query_id, neighbor_id, ROUND(cos, 4) AS cosim, rn FROM (
  SELECT query_id, neighbor_id, cos,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rn
  FROM cand) WHERE rn <= {k}"""


def semantic_dedup_select_sql(
    eps: float = 0.35, sf: str = "sf0.01"
) -> str:
    """SELECT recomputing q_dedup_semantic live: IVF cells from the
    inlined centroids, then the epsilon-ball prune — a vector is
    dropped iff a lower-id same-cell vector has cosine >= eps, with
    the smallest such witness as dup_of."""
    return f"""
WITH {_assign_ctes(artifacts(sf).IVF_CENTROIDS, "sc", "sasg")},
{_semantic_prune_ctes("sasg", eps)}
{_semantic_prune_select("sasg")}"""


def semantic_dedup_imi_select_sql(
    eps: float = 0.35, sf: str = "sf0.01"
) -> str:
    """SELECT recomputing q_dedup_semantic_imi live: IMI product cells
    (cell = half0_code * k1 + half1_code, each half an independent
    argmin over its inlined codebook), then the identical prune."""
    return f"""
WITH {_imi_cells_ctes("masg", artifacts(sf).IMI_BOOKS)},
{_semantic_prune_ctes("masg", eps)}
{_semantic_prune_select("masg")}"""


def imi_topk_select_sql(
    k: int = 5, nprobe: int = 4, sf: str = "sf0.01"
) -> str:
    """SELECT recomputing q_sim_topk_imi live: corpus vectors in their
    IMI product cell (two half argmins over the inlined codebooks),
    queries (vec_id < 10) probe the nprobe smallest half-distance
    CROSS-SUMS — d0[c0] + d1[c1] IS the squared-L2 distance to the
    product centroid, ties to the lowest row-major cell id, exactly
    the operator's ``_imi_probes_vec`` rule — then exact cosine top-k
    with id tiebreaks on the cell-joined candidates."""
    books = artifacts(sf).IMI_BOOKS
    k1 = len(books[1])
    return f"""
WITH {_imi_cells_ctes("tasg", books)},
qprobes AS (
  SELECT vec_id AS query_id, cell FROM (
    SELECT h0.vec_id, h0.cell * {k1} + h1.cell AS cell,
           ROW_NUMBER() OVER (
             PARTITION BY h0.vec_id
             ORDER BY h0.d2 + h1.d2, h0.cell * {k1} + h1.cell) AS prn
    FROM tasg_h0_d h0 JOIN tasg_h1_d h1 USING (vec_id)
    WHERE h0.vec_id < 10) WHERE prn <= {nprobe}),
tcand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                CAST(n.embedding AS DOUBLE[])) AS cos
  FROM qprobes p
  JOIN tasg a USING (cell)
  JOIN embeddings q ON q.vec_id = p.query_id
  JOIN embeddings n ON n.vec_id = a.vec_id
  WHERE a.vec_id <> p.query_id)
SELECT query_id, neighbor_id, ROUND(cos, 4) AS cosim, rn FROM (
  SELECT query_id, neighbor_id, cos,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rn
  FROM tcand) WHERE rn <= {k}"""


def semantic_dedup_inc_select_sql(
    eps: float = 0.35, sf: str = "sf0.01"
) -> str:
    """SELECT recomputing q_dedup_semantic_inc live: every vector is
    assigned to the corpus-prefix-trained cells (vec_id < 400 plays
    the accumulated corpus), corpus rows are always kept, and a NEW
    row drops iff a same-cell CORPUS vector has cosine >= eps (the
    smallest such witness as dup_of) — never corpus x corpus, never
    new x new."""
    return f"""
WITH {_assign_ctes(artifacts(sf).IVF_CENTROIDS_CORPUS400, "nc", "nasg")},
incw AS (
  SELECT b.vec_id, MIN(a.vec_id) AS dup_of
  FROM nasg a
  JOIN nasg b ON a.cell = b.cell
             AND a.vec_id < 400 AND b.vec_id >= 400
  JOIN embeddings ea ON ea.vec_id = a.vec_id
  JOIN embeddings eb ON eb.vec_id = b.vec_id
  WHERE list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                               CAST(eb.embedding AS DOUBLE[])) >= {eps}
  GROUP BY b.vec_id)
SELECT c.vec_id, CAST(c.cell AS INTEGER) AS cell,
       CAST(CASE WHEN c.vec_id >= 400 THEN 1 ELSE 0 END
            AS INTEGER) AS is_new,
       CAST(CASE WHEN w.dup_of IS NULL THEN 1 ELSE 0 END
            AS INTEGER) AS kept,
       w.dup_of
FROM nasg c LEFT JOIN incw w USING (vec_id)"""


def ivfpq_topk_select_sql(
    k: int = 5, nprobe: int = 4, rerank: int = 64, sf: str = "sf0.01"
) -> str:
    """SELECT recomputing q_sim_topk_ivfpq live — the full IVF-PQ +
    exact-rerank pipeline from the frozen artifacts: IVF cells (raw
    space) for candidate generation, PQ codes (per-subspace argmin of
    the L2-NORMALIZED vector against the inlined codebooks), the
    per-query ADC lookup table, shortlist of ``rerank`` by ADC score
    (desc, id tiebreak), then exact unit-vector dot rescoring and the
    final top-k. Every float step mirrors the operator's arithmetic:
    sequential list folds for distances and dots, the same
    (d2, code) / (score desc, id) orderings — verified bit-exact
    against the Spark output at sf0.01 (codes agree 500/500, final
    frame hash-equal)."""
    A = artifacts(sf)
    m = len(A.PQ_BOOKS)
    dsub = len(A.PQ_BOOKS[0][0])
    dim = m * dsub
    bvals = ", ".join(
        f"({s}, {c}, [{', '.join(_dlit(x) for x in comp)}]::DOUBLE[])"
        for s, book in enumerate(A.PQ_BOOKS)
        for c, comp in enumerate(book)
    )
    return f"""
WITH {_values_cells(A.IVF_CENTROIDS, "pic")},
b(s, c, bcv) AS (VALUES {bvals}),
pcd AS (
  SELECT e.vec_id, pic.cell,
         list_sum(list_transform(range(1, {dim + 1}),
           i -> (CAST(e.embedding[i] AS DOUBLE) - pic.cv[i])
              * (CAST(e.embedding[i] AS DOUBLE) - pic.cv[i]))) AS d2
  FROM embeddings e CROSS JOIN pic),
pcells AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY d2, cell) AS rn
    FROM pcd) WHERE rn = 1),
pnv AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
           x -> x / sqrt(list_sum(list_transform(
                  CAST(embedding AS DOUBLE[]), y -> y * y)))) AS v
  FROM embeddings),
pscd AS (
  SELECT pnv.vec_id, b.s, b.c,
         list_sum(list_transform(range(1, {dsub + 1}),
           i -> (v[b.s * {dsub} + i] - b.bcv[i])
              * (v[b.s * {dsub} + i] - b.bcv[i]))) AS d2
  FROM pnv CROSS JOIN b),
pcodes AS (
  SELECT vec_id, list(c ORDER BY s) AS cs FROM (
    SELECT vec_id, s, c,
           ROW_NUMBER() OVER (PARTITION BY vec_id, s
                              ORDER BY d2, c) AS rn
    FROM pscd) WHERE rn = 1 GROUP BY vec_id),
plutrows AS (
  SELECT vec_id, s, list(d2 ORDER BY c) AS lrow
  FROM pscd WHERE vec_id < 10 GROUP BY vec_id, s),
plut AS (
  SELECT vec_id AS query_id, list(lrow ORDER BY s) AS lt
  FROM plutrows GROUP BY vec_id),
pprobes AS (
  SELECT vec_id AS query_id, cell FROM (
    SELECT vec_id, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY d2, cell) AS prn
    FROM pcd WHERE vec_id < 10) WHERE prn <= {nprobe}),
ppairs AS (
  SELECT p.query_id, cl.vec_id AS neighbor_id,
         1.0 - list_sum(list_transform(range(1, {m + 1}),
             i -> plut.lt[i][pcodes.cs[i] + 1])) / 2.0 AS adc
  FROM pprobes p
  JOIN pcells cl USING (cell)
  JOIN pcodes ON pcodes.vec_id = cl.vec_id
  JOIN plut ON plut.query_id = p.query_id
  WHERE cl.vec_id <> p.query_id),
pshort AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY adc DESC, neighbor_id) AS arn
    FROM ppairs) WHERE arn <= {rerank}),
presc AS (
  SELECT sh.query_id, sh.neighbor_id,
         list_sum(list_transform(range(1, {dim + 1}),
           i -> qn.v[i] * nn.v[i])) AS score
  FROM pshort sh
  JOIN pnv qn ON qn.vec_id = sh.query_id
  JOIN pnv nn ON nn.vec_id = sh.neighbor_id)
SELECT query_id, neighbor_id, ROUND(score, 4) AS score, rn FROM (
  SELECT query_id, neighbor_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score DESC, neighbor_id) AS rn
  FROM presc) WHERE rn <= {k}"""


def quality_model_select_sql(sf: str = "sf0.01") -> str:
    """SELECT recomputing q_quality_model live: the planted-negative
    corpus (originals + first-word-repeated twins of every third
    doc), the three JVM text statistics, and the literal-weight
    sigmoid — all re-derived relationally from the raw documents
    with the frozen logreg weights inlined. The z fold mirrors the
    operator's left-to-right literal expression; verified bit-exact
    at sf0.01 (667/667 rows incl. the unrounded >= 0.5 keep cut)."""
    b, w1, w2, w3 = (_dlit(x) for x in artifacts(sf).LOGREG_WEIGHTS)
    return f"""
WITH qm_base AS (
  SELECT doc_id, 'orig' AS variant, text, 1 AS label FROM documents
  UNION ALL
  SELECT doc_id, 'rep' AS variant,
         array_to_string(list_transform(range(1, len(w) + 1),
                                        i -> w[1]), ' ') AS text,
         0 AS label
  FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS w
        FROM documents WHERE doc_id % 3 = 0)),
qm_w AS (
  SELECT doc_id, variant, label, text,
         string_split(lower(trim(text)), ' ') AS w
  FROM qm_base),
qm_f AS (
  SELECT doc_id, variant, label,
         CAST(len(list_filter(w, x -> x IN ('a', 'the'))) AS DOUBLE)
           / CAST(len(w) AS DOUBLE) AS f_stop,
         1.0 - CAST(len(list_distinct(w)) AS DOUBLE)
           / CAST(len(w) AS DOUBLE) AS f_dup,
         ((CAST(length(text) AS DOUBLE)
             - (CAST(len(w) AS DOUBLE) - 1))
           / CAST(len(w) AS DOUBLE)) / 10.0 AS f_wlen
  FROM qm_w),
qm_s AS (
  SELECT doc_id, variant, label,
         1.0 / (1.0 + exp(-((({b} + {w1} * f_stop)
                              + {w2} * f_dup)
                              + {w3} * f_wlen))) AS score
  FROM qm_f)
SELECT doc_id, variant, CAST(label AS BIGINT) AS label,
       ROUND(score, 4) AS score, score >= 0.5 AS keep
FROM qm_s"""


def _imi_cells_ctes(out_name: str, books) -> str:
    b0 = [(i, v) for i, v in enumerate(books[0])]
    b1 = [(i, v) for i, v in enumerate(books[1])]
    dsub = len(books[0][0])
    k1 = len(books[1])
    h0 = _assign_ctes(b0, "b0", f"{out_name}_h0", lo=1, hi=dsub)
    h1 = _assign_ctes(
        b1, "b1", f"{out_name}_h1", lo=dsub + 1, hi=2 * dsub
    )
    return f"""{h0},
{h1},
{out_name} AS (
  SELECT h0.vec_id, h0.cell * {k1} + h1.cell AS cell
  FROM {out_name}_h0 h0 JOIN {out_name}_h1 h1 USING (vec_id))"""


def _semantic_prune_ctes(cells: str, eps: float) -> str:
    return f"""{cells}_w AS (
  SELECT b.vec_id, MIN(a.vec_id) AS dup_of
  FROM {cells} a
  JOIN {cells} b ON a.cell = b.cell AND a.vec_id < b.vec_id
  JOIN embeddings ea ON ea.vec_id = a.vec_id
  JOIN embeddings eb ON eb.vec_id = b.vec_id
  WHERE list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                               CAST(eb.embedding AS DOUBLE[])) >= {eps}
  GROUP BY b.vec_id)"""


def _semantic_prune_select(cells: str) -> str:
    return f"""SELECT c.vec_id, CAST(c.cell AS INTEGER) AS cell,
       CAST(CASE WHEN w.dup_of IS NULL THEN 1 ELSE 0 END
            AS INTEGER) AS kept,
       w.dup_of
FROM {cells} c LEFT JOIN {cells}_w w USING (vec_id)"""


def _sq(s: str) -> str:
    """SQL single-quoted string literal."""
    return "'" + s.replace("'", "''") + "'"


def _bpe_iter_block(k: int) -> str:
    """One unrolled greedy-merge pass: find the lowest-rank adjacent
    pair per word, pick its non-overlapping occurrences left-to-right
    (within each island of consecutive match positions keep odd
    1-based offsets — consecutive matches mean left==right, where the
    reference scan merges every other one), rebuild the symbol list.
    Words with no rankable pair pass through unchanged, so running
    more passes than a word needs is a no-op. ``MATERIALIZED`` stops
    DuckDB inlining each pass twice into the next (the view-expansion
    blow-up is exponential in the pass count: measured 146 s -> 0.2 s
    on the sf0.01 corpus)."""
    prev, nxt = f"bpe_enc{k}", f"bpe_enc{k + 1}"
    return f"""
bpe_p{k} AS MATERIALIZED (
  SELECT e.w, u.i, r.rnk
  FROM {prev} e, UNNEST(range(1, len(e.syms))) AS u(i)
  JOIN bpe_ranks r ON r.l = e.syms[i] AND r.r = e.syms[i + 1]),
bpe_b{k} AS (SELECT w, min(rnk) AS brank FROM bpe_p{k} GROUP BY w),
bpe_m{k} AS (
  SELECT w, list(i ORDER BY i) AS ml FROM (
    SELECT w, i FROM (
      SELECT w, i,
             ROW_NUMBER() OVER (PARTITION BY w, i - irn ORDER BY i) AS off
      FROM (
        SELECT p.w, p.i,
               ROW_NUMBER() OVER (PARTITION BY p.w ORDER BY p.i) AS irn
        FROM bpe_p{k} p
        JOIN bpe_b{k} b ON b.w = p.w AND p.rnk = b.brank))
    WHERE off % 2 = 1) GROUP BY w),
{nxt} AS MATERIALIZED (
  SELECT e.w,
         CASE WHEN m.ml IS NULL THEN e.syms
              ELSE list_filter(
                list_transform(range(1, len(e.syms) + 1),
                  j -> CASE
                         WHEN list_contains(m.ml, j)
                           THEN e.syms[j] || e.syms[j + 1]
                         WHEN list_contains(m.ml, j - 1) THEN NULL
                         ELSE e.syms[j]
                       END),
                x -> x IS NOT NULL)
         END AS syms
  FROM {prev} e LEFT JOIN bpe_m{k} m USING (w))"""


def bpe_vocab_select_sql(sf: str = "sf0.01") -> str:
    """SELECT recomputing q_bpe_vocab live (r11, retiring the last
    frozen-RESULT golden): the frozen artifact is the 60-row merge
    TABLE (rank, left, right, pair count) — the trained model, same
    footing as centroids/codebooks — and DuckDB re-runs the greedy
    lowest-rank-first encoder (operators/bpe.py::_encode_word) over
    every distinct corpus word as ``BPE_ENC_ITERS`` unrolled merge
    passes (a word of L symbols admits at most L-1 merges), then
    reassembles per-doc token streams for the md5 fingerprints and
    counts. tests/test_oracle_independent.py independently relearns
    merges #0/#1 from raw text, checking the artifact itself."""
    A = artifacts(sf)
    merges = A.BPE_MERGES
    if not merges:
        raise ValueError("empty BPE merge table; refreeze artifacts")
    rank_rows = ", ".join(
        f"({i}, {_sq(a)}, {_sq(b)})" for i, (a, b, _) in enumerate(merges)
    )
    merge_out = ", ".join(
        f"({i}, {_sq(a + b)}, {int(cnt)})"
        for i, (a, b, cnt) in enumerate(merges)
    )
    blocks = ",".join(_bpe_iter_block(k) for k in range(A.BPE_ENC_ITERS))
    final = f"bpe_enc{A.BPE_ENC_ITERS}"
    return f"""
WITH
bpe_ranks(rnk, l, r) AS (VALUES {rank_rows}),
bpe_merge_rows(id, tok, n) AS (VALUES {merge_out}),
bpe_dwords AS MATERIALIZED (
  SELECT doc_id, x.w AS w, x.wpos AS wpos FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(ws) + 1),
             i -> {{'wpos': i, 'w': ws[i]}})) AS x
    FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS ws
          FROM documents WHERE text IS NOT NULL))
  WHERE x.w <> ''),
bpe_enc0 AS MATERIALIZED (
  SELECT w,
         list_transform(range(1, len(w) + 1),
           i -> CASE WHEN i = len(w) THEN substr(w, i, 1) || '</w>'
                     ELSE substr(w, i, 1) END) AS syms
  FROM (SELECT DISTINCT w FROM bpe_dwords)),{blocks},
bpe_wtoks AS (
  SELECT w, x.tok AS tok, x.j AS j FROM (
    SELECT w,
           unnest(list_transform(range(1, len(syms) + 1),
             j -> {{'j': j, 'tok': syms[j]}})) AS x
    FROM {final})),
bpe_dstream AS (
  SELECT d.doc_id,
         string_agg(wt.tok, ' ' ORDER BY d.wpos, wt.j) AS s,
         COUNT(*) AS n
  FROM bpe_dwords d JOIN bpe_wtoks wt ON wt.w = d.w
  GROUP BY d.doc_id)
SELECT 'merge' AS tag, CAST(id AS BIGINT) AS id, tok,
       CAST(n AS BIGINT) AS n
FROM bpe_merge_rows
UNION ALL
SELECT 'doc' AS tag, CAST(doc.doc_id AS BIGINT) AS id,
       md5(COALESCE(ds.s, '')) AS tok,
       CAST(COALESCE(ds.n, 0) AS BIGINT) AS n
FROM documents doc LEFT JOIN bpe_dstream ds USING (doc_id)"""


def _imi_probe_ctes(out_name: str, books, nprobe: int) -> str:
    """CTE chain assigning EVERY embeddings row to its ``nprobe``
    nearest IMI product cells (cross-sum of half distances, ties to
    the lowest row-major cell id — ``_imi_probes_vec``'s lexsort
    rule): ``out_name(vec_id, cell)``, one row per probe."""
    b0 = [(i, v) for i, v in enumerate(books[0])]
    b1 = [(i, v) for i, v in enumerate(books[1])]
    dsub = len(books[0][0])
    k1 = len(books[1])
    h0 = _assign_ctes(b0, f"{out_name}_b0", f"{out_name}_h0", lo=1, hi=dsub)
    h1 = _assign_ctes(
        b1, f"{out_name}_b1", f"{out_name}_h1", lo=dsub + 1, hi=2 * dsub
    )
    return f"""{h0},
{h1},
{out_name} AS (
  SELECT vec_id, cell FROM (
    SELECT h0.vec_id, h0.cell * {k1} + h1.cell AS cell,
           ROW_NUMBER() OVER (
             PARTITION BY h0.vec_id
             ORDER BY h0.d2 + h1.d2, h0.cell * {k1} + h1.cell) AS prn
    FROM {out_name}_h0_d h0 JOIN {out_name}_h1_d h1 USING (vec_id))
  WHERE prn <= {nprobe})"""


def embed_cells_select_sql(
    threshold: float = 0.4, nprobe: int = 4, sf: str = "sf0.01"
) -> str:
    """SELECT recomputing q_dedup_embed_cells live — the operator's
    DECLARED contract, not brute force: every vector probes its top-4
    IMI product cells (frozen ``EMBED_CELL_BOOKS``, trained under the
    deployment sizing k_half = max(3, ceil(sqrt(n/250)))), candidate
    pairs are probe-cell co-occurrences, and the exact cosine kernel
    verifies. This mirrors the ANN top-k oracles (IVF/IMI/IVF-PQ),
    which also replay the algorithm rather than asserting brute-force
    equality: multi-probe recall vs all-pairs is a MEASURED floor, not
    an invariant — 59/59 = 100% at sf0.01 but 903/920 at sf0.1 — and
    is pinned separately in tests/test_oracle_independent.py. (The
    pre-r11 brute-force oracle was therefore wrong-by-construction at
    any SF where recall < 100%; it had simply never been run off the
    driver SF.)"""
    books = artifacts(sf).EMBED_CELL_BOOKS
    return f"""
WITH {_imi_probe_ctes("eprb", books, nprobe)},
ecand AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM eprb a JOIN eprb b ON a.cell = b.cell AND a.vec_id < b.vec_id
  GROUP BY vec_a, vec_b),
ecos AS (
  SELECT c.vec_a, c.vec_b,
         list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                CAST(eb.embedding AS DOUBLE[])) AS cos
  FROM ecand c
  JOIN embeddings ea ON ea.vec_id = c.vec_a
  JOIN embeddings eb ON eb.vec_id = c.vec_b)
SELECT vec_a, vec_b, ROUND(cos, 4) AS cosim
FROM ecos WHERE cos >= {threshold}"""
