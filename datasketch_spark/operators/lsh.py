"""Banded LSH as DataFrame ops: the reference's hashtable index becomes a
``bands`` table; inserts are writes, queries are joins.

Reference semantics reproduced:
  - ``MinHashLSH.__init__`` hashranges ``[(i*r, (i+1)*r)]`` (``lsh.py:196``)
    -> ``F.slice(sig, i*r+1, r)``.
  - ``MinHashLSH._H`` band bucket key = bytes of the r slot values
    (``lsh.py:537-543``) -> ``slice_key``: ``xxhash64(band_idx, slice)``.
    Any injective encoding of (band_idx, band content) gives identical
    bucketing semantics; a 64-bit key is what the reference's optional
    key-compression hashfunc (``lsh.py:81-83``) produces anyway.
  - ``MinHashLSH.insert`` (``lsh.py:326-347``) -> append rows to the bands
    table (posexplode), one shuffle write, no KV store.
  - ``MinHashLSH.query`` (``lsh.py:370-432``) -> equi-join on
    ``(band_idx, band_hash)`` + union of candidates across bands
    (groupBy/collect_set).
  - ``MinHashLSH.get_counts`` (``lsh.py:560-589``) -> ``bucket_histogram``
    groupBy. The bucket cap (our skew-handling addition) does not read it:
    ``bucket_pairs`` counts each bucket in-line, and ``dropped_buckets``
    reports what the cap skipped.

Everything in this module past the signature UDF (``with_signature`` /
``signature_table``) is pure DataFrame API — whole-stage codegen, no
Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from datasketch_spark.config import DedupConfig
from datasketch_spark.functions.minhash import (
    empty_sig,
    make_signature_from_tokens_udf,
    make_signature_udf,
)
from datasketch_spark.functions.text import char_ngrams_col
from datasketch_spark.sources.io import CheckpointManager, NoopCheckpoints, spread


def with_signature(
    df: DataFrame, cfg: DedupConfig, text_col: str = "text", sig_col: str = "sig"
) -> DataFrame:
    """Attach the MinHash signature column (the single pandas-UDF stage)."""
    udf = make_signature_udf(cfg.num_perm, cfg.seed, cfg.shingle_k, cfg.hash_mode)
    return df.withColumn(sig_col, udf(F.col(text_col)))


def signature_table(
    df: DataFrame,
    cfg: DedupConfig,
    tokens: Column | None = None,
    with_size: bool = False,
    checkpoints: CheckpointManager | None = None,
) -> DataFrame:
    """(doc_id, sig[, set_size]) over ``df``'s ``doc_id``/``text`` columns,
    with the signature UDF evaluated once however many plan branches
    consume the table (bands + verify, index + query bands, ...).

    ``df`` is first ``spread`` (a no-op unless it scans narrower than
    ``defaultParallelism``). ``tokens`` (array<bigint> of token hashes)
    signs those tokens instead of the text's shingles. ``with_size`` adds
    ``set_size``: the distinct ``cfg.shingle_k``-shingle count of the text
    (the distinct token count when ``tokens`` is given). ``checkpoints``
    materializes the table as its ``signatures`` stage; the default
    ``NoopCheckpoints`` is a lazy local checkpoint.
    """
    df = spread(df)
    if tokens is None:
        sigs = with_signature(df, cfg)
        members = F.array_distinct(char_ngrams_col(F.col("text"), cfg.shingle_k))
    else:
        udf = make_signature_from_tokens_udf(cfg.num_perm, cfg.seed)
        sigs = df.withColumn("sig", udf(tokens))
        members = F.array_distinct(tokens)
    cols = ["doc_id", "sig"] + ([F.size(members).alias("set_size")] if with_size else [])
    ckpt = checkpoints or NoopCheckpoints()
    return ckpt.materialize(sigs.select(*cols), "signatures")


def _ab(x: Column, y: Column) -> Column:
    return F.struct(x.alias("a"), y.alias("b"))


def pairs_expr(ids_col: str, pair=_ab) -> Column:
    """array of ``pair(ids[i], ids[j])`` for every i < j — the within-bucket
    pair expansion, natively (nested ``transform`` over ``slice``). With
    ``ids`` sorted, the default (a, b) structs have a < b."""
    return F.flatten(
        F.transform(
            ids_col,
            lambda x, i: F.transform(
                F.slice(F.col(ids_col), i + 2, F.size(ids_col)),
                lambda y: pair(x, y),
            ),
        )
    )


def slice_key(salt: tuple[int, ...], start: int, length: int, sig: Column) -> Column:
    """The bucket key of signature slots ``[start, start + length)``:
    ``xxhash64(*salt, slice)``, the salts as int literals. The one encoding
    of a signature slice as a bucket key — LSH bands, forest prefixes and
    ensemble bands all key through it, so persisted keys (the ``bands``
    checkpoint stage, ``write_bucketed`` tables) stay comparable."""
    return F.xxhash64(*[F.lit(x) for x in salt], F.slice(sig, start + 1, length))


def _band_keys(cfg: DedupConfig, sig: Column) -> list[Column]:
    return [slice_key((i,), i * cfg.r, cfg.r, sig) for i in range(cfg.b)]


def band_hash_array(cfg: DedupConfig, sig_col: str = "sig"):
    """array<bigint> of the b band keys of ``sig_col`` (``slice_key``)."""
    return F.array(*_band_keys(cfg, F.col(sig_col)))


def bands_table(
    sig_df: DataFrame,
    cfg: DedupConfig,
    key_col: str = "doc_id",
    sig_col: str = "sig",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(key, *extra_cols, band_idx, band_hash) — the LSH index as a table.

    ``extra_cols`` are carried through unchanged (e.g. the event-time
    column a streaming consumer needs for watermark-scoped state).

    ``posexplode`` of the band-hash array: b rows per doc, one shuffle on
    write. At scale, persist this table with
    ``sources.io.write_bucketed(bands, ..., bucket_cols=["band_hash"])``:
    the bucketed scan's hash distribution satisfies the
    ``(band_idx, band_hash)`` windows and groupBys downstream, so
    ``candidate_pairs``/``bucket_histogram`` group buckets shuffle-free
    (asserted in ``test_plans.py::test_bucketed_bands_elide_groupby_shuffles``).

    Docs with an empty signature (null/empty text — never updated) are
    excluded: they all share one constant signature, which would form a
    single giant artificial bucket. They remain singletons downstream.
    The exclusion filters on the band keys of ``minhash.empty_sig``
    (constant-folded to a literal list; building the table runs no job)
    AFTER explode — filtering on the sig column before the projection
    would make Catalyst evaluate the signature UDF twice (once for the
    filter, once for the band array).
    """
    exploded = sig_df.select(
        F.col(key_col),
        *[F.col(c) for c in extra_cols],
        F.posexplode(band_hash_array(cfg, sig_col)).alias("band_idx", "band_hash"),
    )
    return exploded.where(
        ~F.col("band_hash").isin(*_band_keys(cfg, empty_sig(cfg.num_perm)))
    )


def bucket_histogram(bands: DataFrame) -> DataFrame:
    """Per-bucket member counts (reference ``get_counts``, ``lsh.py:560-589``).
    The skew diagnostic: drives bucket_cap decisions."""
    return bands.groupBy("band_idx", "band_hash").agg(F.count("*").alias("n_keys"))


def candidate_pairs(
    bands: DataFrame, cfg: DedupConfig, key_col: str = "doc_id"
) -> DataFrame:
    """All-pairs dedup: distinct (a, b), a < b, sharing >= 1 LSH bucket of
    at most ``cfg.bucket_cap`` members (``bucket_pairs`` over the bands).

    A bucket of n yields n(n-1)/2 pairs. Hot buckets (boilerplate:
    headers, templates) over the cap never reach a member list, and
    ``dropped_buckets`` surfaces them, never silently."""
    return bucket_pairs(bands, ["band_idx", "band_hash"], key_col, cfg.bucket_cap)


def bucket_pairs(
    rows: DataFrame,
    bucket_cols: list[str],
    member,
    cap: int | None = None,
    pair=_ab,
) -> DataFrame:
    """The candidate-pair table of a bucketing: every distinct
    ``pair(x, y)`` of two ``member`` values (a column name or expression)
    sharing a ``bucket_cols`` bucket, x before y in sorted member order.

    ONE shuffle groups each bucket's members into a list, native
    ``pairs_expr`` expands it, and a final distinct removes the copies of
    pairs that share several buckets. With the default (a, b) ``pair``,
    a < b.

    The one bucket cap: rows of a bucket with more than ``cap`` rows are
    dropped BEFORE the ``collect_list``, by a count over a window on
    ``bucket_cols``. The window's Exchange also serves the groupBy (no
    extra shuffle), and a hot bucket only passes through the window's
    spillable row buffer, so no list ever holds more than ``cap`` members
    (one 10M-member boilerplate bucket cannot OOM an aggregation buffer).
    Each caller surfaces what its cap skipped."""
    if cap is not None:
        rows = rows.withColumn(
            "_bucket_n", F.count(F.lit(1)).over(Window.partitionBy(*bucket_cols))
        ).where(F.col("_bucket_n") <= cap)
    buckets = (
        rows.groupBy(*bucket_cols)
        .agg(F.collect_list(member).alias("ids"))
        .where(F.size("ids") >= 2)
        .select(F.array_sort("ids").alias("ids"))
    )
    pairs = buckets.select(F.explode(pairs_expr("ids", pair)).alias("p"))
    return pairs.select("p.*").dropDuplicates()


def dropped_buckets(bands: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Buckets excluded by the cap — surfaced as a metric, never silent."""
    return bucket_histogram(bands).where(F.col("n_keys") > cfg.bucket_cap)


def lsh_query(
    index_bands: DataFrame,
    query_bands: DataFrame,
    query_key: str = "query_id",
    index_key: str = "doc_id",
) -> DataFrame:
    """Batched ``MinHashLSH.query`` (``lsh.py:370-432``): for each query key,
    the set-union of index keys across all matching band buckets.

    Returns (query_key, candidates: array<index_key type>).
    """
    q = query_bands.select(
        F.col(query_key), F.col("band_idx"), F.col("band_hash")
    )
    joined = q.join(index_bands, ["band_idx", "band_hash"])
    return joined.groupBy(query_key).agg(
        F.array_sort(F.collect_set(index_key)).alias("candidates")
    )


def query_buffer_intersection(
    index_bands: DataFrame,
    query_bands: DataFrame,
    n_queries: int,
    query_key: str = "query_id",
    index_key: str = "doc_id",
) -> DataFrame:
    """Reference ``collect_query_buffer`` wrinkle (``lsh.py:434-483``):
    per-query union across bands, then INTERSECTION across all buffered
    queries. -> candidates appearing for every one of the n queries."""
    per_query = (
        query_bands.join(index_bands, ["band_idx", "band_hash"])
        .select(query_key, index_key)
        .distinct()
    )
    return (
        per_query.groupBy(index_key)
        .agg(F.countDistinct(query_key).alias("nq"))
        .where(F.col("nq") == n_queries)
        .select(index_key)
    )
