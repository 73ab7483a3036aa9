"""Corpus-curation operators — the remaining steps a production
training-data pipeline runs between raw crawl and tokenizer:
deterministic splits/sampling, benchmark decontamination, PII
scrubbing, and sequence packing.

All are pure Catalyst expressions (codegen'd, shuffle-minimal) and
cross-engine deterministic: randomness is *derived* (md5 of stable
keys — identical in DuckDB SQL), never drawn, so every operator is
oracle-checkable and reproducible across reruns/retries — the
property that matters most in a 100 TB pipeline, where "resample on
retry" silently changes the training set.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from flink_framework_spark.functions.helpers import round_duck
from flink_framework_spark.operators.dedup import tokens
from flink_framework_spark.operators.text import token_count, words
from flink_framework_spark.staging import stage


def hash_bucket(key: Column, n_buckets: int = 100) -> Column:
    """Deterministic [0, n_buckets) bucket from a stable key: first 8
    hex digits of md5, mod n. Identical in DuckDB
    (``strtol(substring(md5(k),1,8),16) % n``), uniform enough for
    split/sample quotas, and independent of partitioning — a narrow
    map, no shuffle."""
    h = F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10).cast("long")
    return F.pmod(h, F.lit(n_buckets))


def assign_split(
    df: DataFrame,
    key_col: str,
    train_pct: int = 90,
    val_pct: int = 5,
    out_col: str = "split",
) -> DataFrame:
    """train/val/test assignment by hash bucket of a stable key.
    Splitting on a KEY (not row position) keeps all rows of an entity
    on one side — the standard leakage guard."""
    b = hash_bucket(F.col(key_col))
    return df.withColumn(
        out_col,
        F.when(b < train_pct, "train")
        .when(b < train_pct + val_pct, "val")
        .otherwise("test"),
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    fraction_pct: dict[str, int],
    default_pct: int = 0,
) -> DataFrame:
    """Per-stratum deterministic sample: keep a row iff its key's hash
    bucket falls under the stratum's percentage. Used for language /
    domain rebalancing. No shuffle, no RNG state; exactly reproducible
    and incrementally stable (adding rows never flips old decisions)."""
    b = hash_bucket(F.col(key_col))
    quota = F.lit(default_pct)
    for stratum, pct in sorted(fraction_pct.items()):
        quota = F.when(F.col(strata_col) == stratum, pct).otherwise(quota)
    return df.filter(b < quota)


# --- benchmark decontamination -------------------------------------------

def assign_shards(
    df: DataFrame,
    n_shards: int = 16,
    id_col: str = "doc_id",
    out_col: str = "shard",
) -> DataFrame:
    """Deterministic training-shard assignment — the LAST step of a
    curation pipeline, where the corpus leaves the lake as N
    dataloader shards. Shard id is ``hash_bucket`` of the stable doc
    key: a pure narrow map (no global sort, no shuffle — the
    shuffled-order property trainers need comes from the hash itself,
    which decorrelates shard membership from ingest order), identical
    in DuckDB, append-stable (a re-exported grown corpus keeps every
    old doc's shard). Shard sizes are multinomial-uniform, so the
    imbalance at S shards over D docs is O(sqrt(D/S)) relative —
    negligible at training scale; exact balance would need a global
    sort (ntile), which is the one thing this spelling avoids."""
    return df.withColumn(out_col, hash_bucket(F.col(id_col), n_shards))


def shard_manifest(
    df: DataFrame,
    n_shards: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-shard export manifest: (shard, n_docs, n_tokens, n_chars,
    min/max id) — what a dataloader config consumes and what makes an
    export independently checkable (the whole computation is
    SQL-expressible, so the registered query carries a live oracle)."""
    toks = F.size(tokens(F.col(text_col)))
    return (
        assign_shards(df, n_shards, id_col)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(toks.cast("long")).alias("n_tokens"),
            F.sum(F.length(text_col).cast("long")).alias("n_chars"),
            F.min(id_col).alias("min_id"),
            F.max(id_col).alias("max_id"),
        )
    )


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int = 16,
    id_col: str = "doc_id",
    max_records_per_file: int | None = None,
    shuffle_within: bool = True,
) -> None:
    """Materialize the sharded export: hive-partitioned by shard id
    (one directory per shard, ``maxRecordsPerFile`` bounding file
    sizes for uniform dataloader reads). Deterministic: re-running
    over the same corpus rewrites identical shard membership.

    ``shuffle_within``: rows inside each shard are written in
    md5(id) order — a deterministic pseudo-random permutation, so a
    dataloader reading a shard SEQUENTIALLY sees shuffled samples
    (the property trainers need) while the export stays bit-stable.
    Cost: one repartition on the shard key + per-partition sort —
    each shard sorts independently, no global sort."""
    out = assign_shards(df, n_shards, id_col)
    if shuffle_within:
        out = (
            out.repartition(n_shards, "shard")
            .sortWithinPartitions(
                "shard", F.md5(F.col(id_col).cast("string"))
            )
        )
    w = out.write.mode("overwrite").partitionBy("shard")
    if max_records_per_file is not None:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    w.parquet(path)


def _word_ngram_hashes(text: Column, n: int) -> Column:
    """Distinct 64-bit hashes of the word n-grams of a lowercased text
    column. Hashes the token *slice* directly (``xxhash64`` accepts
    arrays) instead of materializing each n-gram as a joined string —
    tokens come from a single-space split, so slice identity ==
    joined-string identity, and skipping the string build is ~2× on
    gram-heavy corpora. JVM higher-order expressions throughout."""
    toks = words(text)
    count = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    idx = F.sequence(F.lit(0), count - 1)
    gram = lambda i: F.xxhash64(F.slice(toks, i + 1, n))  # noqa: E731
    return F.array_distinct(
        F.when(count > 0, F.transform(idx, gram)).otherwise(
            F.array().cast("array<long>")
        )
    )


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram_n: int = 8,
) -> DataFrame:
    """Drop training documents sharing any ``ngram_n``-gram with a
    benchmark/eval set (the standard n-gram decontamination used for
    pretraining corpora).

    Plan shape: explode both sides to (doc, gram-hash) and LEFT ANTI
    join on the 64-bit gram hash — linear work, one shuffle keyed on
    the hash, no cross join. The benchmark side is typically tiny
    (evals), so Catalyst broadcasts it; at 100 TB the training side
    never materializes its gram set, it streams through the join.
    Hash collisions can only *over*-remove (safe direction), and with
    64-bit hashes are ~impossible at eval-set sizes.
    """
    from flink_framework_spark.operators.dedup import _spread

    # _spread: gram hashing inflates each doc ~|words| times — re-chunk
    # the compact (id, text) rows to full parallelism before the
    # CPU-heavy explode (a single-file input would otherwise shingle on
    # one core; at warehouse scale the scan already has enough splits).
    t_grams = _spread(train.select(id_col, text_col)).select(
        F.col(id_col),
        F.explode(_word_ngram_hashes(F.col(text_col), ngram_n)).alias("__gh"),
    )
    b_grams = benchmark.select(
        F.explode(_word_ngram_hashes(F.col(text_col), ngram_n)).alias("__gh")
    ).distinct()
    contaminated = t_grams.join(b_grams, "__gh", "left_semi").select(id_col).distinct()
    return train.join(contaminated, id_col, "left_anti")


# --- PII scrubbing --------------------------------------------------------

# Pragmatic pretraining-scrub patterns (RE2 ∩ Java-compatible, so the
# DuckDB oracle matches byte-for-byte).
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PHONE_RE = "\\+?[0-9]{1,3}[- .]?\\(?[0-9]{3}\\)?[- .]?[0-9]{3}[- .]?[0-9]{4}"
IPV4_RE = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"


def scrub_pii(
    df: DataFrame, text_col: str = "text", out_col: str = "clean_text"
) -> DataFrame:
    """Redact emails / phone numbers / IPv4s with typed placeholders
    and count redactions per document (audit column). Pure JVM regex —
    a narrow codegen'd map at any scale."""
    t = F.col(text_col)
    n_email = F.size(F.regexp_extract_all(t, F.lit(EMAIL_RE), 0))
    scrubbed = F.regexp_replace(t, EMAIL_RE, "<EMAIL>")
    n_phone = F.size(F.regexp_extract_all(scrubbed, F.lit(PHONE_RE), 0))
    scrubbed = F.regexp_replace(scrubbed, PHONE_RE, "<PHONE>")
    n_ip = F.size(F.regexp_extract_all(scrubbed, F.lit(IPV4_RE), 0))
    scrubbed = F.regexp_replace(scrubbed, IPV4_RE, "<IP>")
    return df.withColumn(out_col, scrubbed).withColumn(
        "n_redactions", (n_email + n_phone + n_ip).cast("long")
    )


# --- domain mixture -------------------------------------------------------

def domain_mixture(
    df: DataFrame,
    domain_col: str = "source",
    text_col: str = "text",
    targets: dict[str, float] | None = None,
) -> DataFrame:
    """Per-domain mixing report for a target token distribution: the
    DoReMi/Pile-style reweighting step. For each domain, the actual
    token share and the repeat factor (``target_share / actual_share``)
    a sampler must apply to hit the target mixture.

    One hash aggregate over the corpus (token counts are a narrow map,
    partial-aggregated map-side); the domain table is tiny, so the
    share/repeat arithmetic happens post-agg on grouped rows. Domains
    absent from ``targets`` get a target share of 0 (drop).
    """
    tok = token_count(F.col(text_col))
    agg = df.groupBy(F.col(domain_col).alias("domain")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(tok).alias("n_tokens"),
    )
    total = Window.partitionBy()
    target = F.lit(0.0)
    for dom, share in sorted((targets or {}).items()):
        target = F.when(F.col("domain") == dom, F.lit(float(share))).otherwise(target)
    actual = F.col("n_tokens") / F.sum("n_tokens").over(total)
    return agg.select(
        "domain",
        "n_docs",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        round_duck(actual, 6).alias("actual_share"),
        target.alias("target_share"),
        round_duck(target / actual, 4).alias("repeat_factor"),
    )


# --- sequence packing -----------------------------------------------------

def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    target_tokens: int = 2048,
    partition_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Assign documents to fixed-token-budget training sequences
    ("packing"): in stable ``id_col`` order, running token count ->
    ``bin = floor((cumsum - tokens) / target)`` (i.e. the bin the
    document STARTS in). Deterministic, one window pass; the
    ``partition_cols`` (e.g. split or shard id) keep the window
    partitioned — at 100 TB you never run one global cumsum, you pack
    per shard, which is also what the trainer consumes.

    Output: (partition_cols..., id, n_tokens, bin, bin_offset) —
    bin_offset is where the doc starts inside its bin, for the
    downstream concatenation step.
    """
    part = Window.partitionBy(*partition_cols)
    w = part.orderBy(id_col).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    out = df.select(
        *partition_cols, id_col, token_count(F.col(text_col)).alias("n_tokens")
    ).withColumn("__cum", F.sum("n_tokens").over(w))
    return out.select(
        *partition_cols,
        id_col,
        "n_tokens",
        F.floor((F.col("__cum") - F.col("n_tokens")) / target_tokens).alias("bin"),
        F.pmod(F.col("__cum") - F.col("n_tokens"), F.lit(target_tokens)).alias(
            "bin_offset"
        ),
    )


def weighted_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    n: int,
    strata_col: str | None = None,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (top-``n``
    overall, or per stratum): the Efraimidis–Spirakis A-Res scheme
    with *derived* randomness — u = unit-uniform from md5(key),
    priority = -ln(u) / w, keep the ``n`` lowest priorities. Rows
    with larger ``weight_col`` win proportionally more often, every
    rerun picks the identical sample, and adding rows never flips
    decisions among survivors with better priorities.

    One narrow map + a per-stratum top-n window (no global sort when
    stratified; a TakeOrdered-shaped global top-n otherwise). The
    priority is rounded to 10 decimals before ranking (with the key
    as tiebreak) so 1-ulp ln/pow differences between engines cannot
    reorder the cut.
    """
    h = F.conv(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10
    ).cast("long")
    u = (h + F.lit(1.0)) / F.lit(float(16**8 + 1))  # (0, 1]
    pri = round_duck(
        -F.log(u) / F.col(weight_col).cast("double"), 10
    )
    out = df.withColumn("pri", pri)
    if strata_col is None:
        return out.orderBy(F.col("pri"), F.col(key_col)).limit(n)
    w = Window.partitionBy(strata_col).orderBy(F.col("pri"), F.col(key_col))
    return (
        out.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .drop("__rn")
    )


def curation_pipeline(
    docs: DataFrame,
    quality_min: float = 0.7,
    near_threshold: float = 0.5,
    bench_mod: int = 97,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The end-to-end pretraining-corpus funnel, composed from this
    module's operators in the order a production pipeline runs them:

      raw -> quality filter -> exact dedup -> near dedup (n-gram
      Jaccard, min-shingle blocked) -> benchmark decontamination ->
      train/val/test split

    Docs with ``doc_id % bench_mod == 0`` play the held-out eval set:
    excluded from the corpus up front and used as the decontamination
    benchmark. Emits the funnel itself — one row per stage with
    surviving doc and whitespace-token counts, plus one
    ``split:<name>`` row per final split — the observable a pipeline
    owner actually monitors (how much each gate removes), while
    proving the stages compose.

    Every stage is individually deterministic and SQL-expressible, so
    the WHOLE composition is hash-checked against DuckDB (the funnel
    is the one place a per-stage bug cannot hide behind another
    stage's filter). Scale: each stage is the documented scale shape
    of its operator; the funnel aggregates are partial aggs over the
    staged (persisted) intermediates, so the chain executes once.
    """
    from flink_framework_spark.operators.dedup import (
        ngram_near_dup_pairs,
        normalize_text,
    )
    from flink_framework_spark.operators.text import quality_score

    did = F.col(id_col)
    corpus = docs.filter(did % bench_mod != 0)
    bench = docs.filter(did % bench_mod == 0)
    q = quality_score(F.col(text_col), F.col("n_chars"))["quality"]
    base = stage(
        corpus.select(
            id_col,
            text_col,
            F.size(words(F.col(text_col)))
            .cast("long")
            .alias("__ntok"),
            q.alias("__q"),
            F.md5(F.encode(normalize_text(F.col(text_col)), "UTF-8")).alias(
                "__fp"
            ),
        )
    )
    s_q = base.filter(F.col("__q") >= F.lit(float(quality_min)))
    w = Window.partitionBy("__fp").orderBy(did)
    s_e = stage(
        s_q.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    near_drop = (
        ngram_near_dup_pairs(s_e, threshold=near_threshold, id_col=id_col,
                             text_col=text_col)
        .select(F.col("doc_b").alias(id_col))
        .distinct()
    )
    s_n = stage(s_e.join(near_drop, id_col, "left_anti"))
    s_d = stage(decontaminate(s_n, bench, id_col=id_col, text_col=text_col))
    splits = (
        assign_split(s_d, id_col)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__ntok").alias("n_tokens"),
        )
        .select(
            F.concat(F.lit("split:"), F.col("split")).alias("stage"),
            "n_docs",
            "n_tokens",
        )
    )

    def stage_row(name: str, frame: DataFrame) -> DataFrame:
        return frame.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__ntok").alias("n_tokens"),
        ).select(F.lit(name).alias("stage"), "n_docs", "n_tokens")

    return (
        stage_row("1_raw", base)
        .unionByName(stage_row("2_quality", s_q))
        .unionByName(stage_row("3_exact_dedup", s_e))
        .unionByName(stage_row("4_near_dedup", s_n))
        .unionByName(stage_row("5_decontam", s_d))
        .unionByName(splits)
    )


def dsir_importance(
    df: DataFrame,
    target_pred: Column,
    n_buckets: int = 256,
    select_n: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR importance resampling (Xie et al., "Data Selection for
    Language Models via Importance Resampling", NeurIPS 2023): score
    every raw document by how target-like it is under hashed
    bag-of-tokens unigram models, then select ``select_n`` docs by
    Gumbel-top-k — sampling without replacement proportional to the
    importance weight, with this repo's derived-randomness convention
    (md5 of the doc key) so the "sample" is deterministic and
    rerun-stable.

    log w(doc) = sum over tokens of ln p_target(bucket) / p_raw(bucket),
    add-1 smoothed over ``n_buckets`` hashed buckets; ``target_pred``
    marks the in-domain rows of ``df`` (the paper uses a separate
    target corpus — a boolean partition of one frame is the same math
    with one fewer scan).

    Scale shape: one token explode (linear) -> one partial-agg
    groupBy on the bucket id for both models at once (conditional
    count, single pass) -> the n_buckets-row log-ratio table
    broadcast back onto the token stream -> per-doc partial-agg sum.
    The top-k cut is TakeOrderedAndProject (per-partition top-k,
    driver merges k*p rows) + a 1-row broadcast of the k-th selection
    key — NO global single-partition window anywhere. Output one row
    per doc: (doc_id, logratio r4, score r6, selected 0/1).
    """
    from flink_framework_spark.operators.dedup import _spread

    toks = _spread(df).select(
        F.col(id_col).alias("doc_id"),
        target_pred.alias("__tgt"),
        F.explode(tokens(F.col(text_col))).alias("__tok"),
    )
    bk = toks.select(
        "doc_id", "__tgt", hash_bucket(F.col("__tok"), n_buckets).alias("__bk")
    )
    # both models in ONE aggregation pass; the explode feeds the
    # bucket counts and the per-doc sum, so stage it
    bk = stage(bk)
    cnt = bk.groupBy("__bk").agg(
        F.count(F.lit(1)).alias("__cr"),
        F.count_if(F.col("__tgt")).alias("__ct"),
    )
    tot = cnt.agg(
        F.sum("__cr").alias("__nr"), F.sum("__ct").alias("__nt")
    )
    B = float(n_buckets)
    lr = cnt.crossJoin(F.broadcast(tot)).select(
        "__bk",
        (
            F.log((F.col("__ct") + F.lit(1.0)) / (F.col("__nt") + F.lit(B)))
            - F.log((F.col("__cr") + F.lit(1.0)) / (F.col("__nr") + F.lit(B)))
        ).alias("__lr"),
    )
    doc = (
        bk.join(F.broadcast(lr), "__bk")
        .groupBy("doc_id")
        .agg(F.sum("__lr").alias("__logratio"))
    )
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    u = (h + F.lit(1.0)) / F.lit(float(16**8 + 1))  # (0, 1]
    scored = stage(
        doc.select(
            "doc_id",
            round_duck("__logratio", 4).alias("logratio"),
            # Gumbel-top-k == weighted sampling w/o replacement with
            # P(doc) proportional to exp(logratio); rounded before
            # ranking so 1-ulp ln differences cannot reorder the cut
            round_duck(F.col("__logratio") - F.log(-F.log(u)), 6).alias(
                "score"
            ),
        )
    )
    # selection key: higher score wins, doc_id ascending breaks ties
    key = F.struct(F.col("score"), (-F.col("doc_id")).alias("neg"))
    kth = (
        scored.orderBy(F.desc("score"), F.col("doc_id"))
        .limit(select_n)
        .agg(F.min(key).alias("__kth"))
    )
    return (
        scored.crossJoin(F.broadcast(kth))
        .select(
            "doc_id",
            "logratio",
            "score",
            (key >= F.col("__kth")).cast("int").alias("selected"),
        )
    )


def dedup_passages(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Passage-level cross-document dedup (the RefinedWeb/CCNet line-
    dedup shape): split each document into non-overlapping ``window``-
    word passages, find passages occurring in >= ``min_docs`` DISTINCT
    documents corpus-wide, and rebuild each document without them.

    Returns (id, n_passages, n_dup_passages, dup_frac, clean_fp) where
    ``clean_fp`` is the md5 of the rebuilt text — proof the in-order
    reassembly is correct without carrying full text downstream.

    Plan shape at 100 TB: the passage table is ~corpus-sized but every
    step is an equi-shuffle — posexplode (narrow), hash-aggregate on
    the passage fingerprint (count of distinct docs: two-level agg),
    shuffle-join passages to their corpus frequency on the
    fingerprint, then one hash-aggregate back to docs. No window over
    the corpus, no driver state; conditional aggregation (not a
    filter) keeps fully-duplicated documents in the output with
    dup_frac = 1.0.
    """
    words = docs.select(
        F.col(id_col).alias("id"),
        F.split(F.trim(F.col(text_col)), " ").alias("w"),
    )
    # ceil(size/window) passages; sequence() counts DOWN for negative
    # spans, so the empty-doc case must short-circuit to array()
    passages = words.select(
        "id",
        F.posexplode(
            F.expr(
                f"case when size(w) = 0 then array() else "
                f"transform(sequence(0, (size(w) + {window - 1}) div {window} - 1),"
                f" i -> array_join(slice(w, i * {window} + 1, {window}), ' ')) end"
            )
        ).alias("pos", "win"),
    ).withColumn("f", F.md5("win"))
    freq = passages.groupBy("f").agg(
        F.count_distinct("id").alias("nd")
    )
    keep = F.col("nd") < min_docs
    return (
        passages.join(freq, "f")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_passages"),
            F.sum(F.when(~keep, 1).otherwise(0)).alias("n_dup_passages"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(keep, F.struct("pos", "win"))
                            )
                        ),
                        lambda s: s["win"],
                    ),
                    " ",
                )
            ).alias("clean_fp"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_passages",
            "n_dup_passages",
            round_duck(
                F.col("n_dup_passages") / F.col("n_passages").cast("double"), 4
            ).alias("dup_frac"),
            "clean_fp",
        )
    )
