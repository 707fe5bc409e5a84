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
  - ``MinHashLSH.get_counts`` (``lsh.py:560-589``) -> bucket histogram
    groupBy; feeds the bucket cap (our skew-handling addition).

Everything in this module past the signature UDF (``with_signature`` /
``signature_table``) is pure DataFrame API — whole-stage codegen, no
Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
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
    ``groupBy(band_idx, band_hash)`` chains downstream, so
    ``candidate_pairs``/``bucket_histogram`` run shuffle-free against it
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
    bands: DataFrame,
    cfg: DedupConfig,
    key_col: str = "doc_id",
    salt_groups: int | None = None,
) -> DataFrame:
    """All-pairs dedup: distinct (a, b), a < b, sharing >= 1 LSH bucket.

    Strategy: first exclude hot buckets with a broadcast anti-join — the
    set of buckets over ``bucket_cap`` is tiny (hot buckets = boilerplate:
    headers, templates), and its count aggregation is map-side-combined,
    so this costs one cheap pre-pass but guarantees no ``collect_list``
    buffer ever exceeds bucket_cap entries (without it, one 10M-member
    bucket OOMs the agg buffer BEFORE the size filter can drop it).
    Then ONE shuffle (groupBy bucket, collect sorted member list) and
    native pair expansion with nested ``transform`` — no two-sided
    self-join shuffle. AQE handles residual skew in the final distinct.
    A bucket of n yields n(n-1)/2 pairs; dropped buckets are surfaced by
    ``dropped_buckets``, never silently.

    ``salt_groups = g`` additionally SALTS the pair expansion: each
    bucket's member list is split into g deterministic salt groups and the
    n^2/2 pair generation is fanned out over the g(g+1)/2 group-pair units
    (one row per unit, re-shuffled so different executors expand different
    units). Without salting, a bucket at the cap expands all its pairs in
    ONE task — fine at cap 2000 (~2M pairs), a straggler if the cap is
    raised. Salting keeps task-level pair work ~n^2/g^2 and lets the cap
    grow accordingly. Output is identical (exact same pair set).
    """
    bucket = ["band_idx", "band_hash"]
    hot = dropped_buckets(bands, cfg).select(*bucket)
    cold = bands.join(F.broadcast(hot), bucket, "left_anti")
    if salt_groups and salt_groups > 1:
        return _salted_pair_expansion(_sorted_buckets(cold, bucket, key_col), salt_groups)
    return bucket_pairs(cold, bucket, key_col)


def _sorted_buckets(
    rows: DataFrame, bucket_cols: list[str], member, cap: int | None = None
) -> DataFrame:
    """(ids): each bucket's sorted member list, buckets of 2..cap members."""
    keep = F.size("ids") >= 2
    if cap is not None:
        keep &= F.size("ids") <= cap
    return (
        rows.groupBy(*bucket_cols)
        .agg(F.collect_list(member).alias("ids"))
        .where(keep)
        .select(F.array_sort("ids").alias("ids"))
    )


def _distinct_pairs(units: DataFrame, pair_array: Column) -> DataFrame:
    """Explode an array of pair structs into a duplicate-free pair table."""
    return units.select(F.explode(pair_array).alias("p")).select("p.*").dropDuplicates()


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
    pairs that share several buckets. Buckets over ``cap`` members are
    dropped; each caller surfaces what its cap skipped. The cap filter runs
    after the list is built, so a caller that must bound the
    ``collect_list`` buffer itself (``candidate_pairs``) pre-filters hot
    buckets. With the default (a, b) ``pair``, a < b."""
    buckets = _sorted_buckets(rows, bucket_cols, member, cap)
    return _distinct_pairs(buckets, pairs_expr("ids", pair))


def _salted_pair_expansion(buckets: DataFrame, g: int) -> DataFrame:
    """Fan each bucket's pair expansion over g(g+1)/2 (salt_i, salt_j)
    units. Each member belongs to exactly one deterministic salt group
    (xxhash64 mod g), so every unordered pair appears in exactly one unit:
    within-group pairs when i == j, full cross product when i < j. The
    repartition spreads units across executors — that IS the salted
    repartitioning step."""
    units = (
        buckets.select(
            "ids",
            F.explode(
                F.sequence(F.lit(0), F.lit(g * g - 1))
            ).alias("unit"),
        )
        .withColumn("si", (F.col("unit") / g).cast("int"))
        .withColumn("sj", F.pmod(F.col("unit"), F.lit(g)))
        .where(F.col("si") <= F.col("sj"))
        .withColumn(
            "gi", F.filter("ids", lambda x: F.pmod(F.xxhash64(x), F.lit(g)) == F.col("si"))
        )
        .withColumn(
            "gj", F.filter("ids", lambda x: F.pmod(F.xxhash64(x), F.lit(g)) == F.col("sj"))
        )
        .where((F.size("gi") >= 1) & (F.size("gj") >= 1))
        .select("si", "sj", "gi", "gj")
        .repartition(F.col("si"), F.col("sj"), F.xxhash64("gi", "gj"))
    )
    within = pairs_expr("gi")
    cross = F.flatten(
        F.transform(
            "gi",
            lambda x: F.transform(
                "gj",
                lambda y: F.struct(
                    F.least(x, y).alias("a"), F.greatest(x, y).alias("b")
                ),
            ),
        )
    )
    pair_expr = F.when(F.col("si") == F.col("sj"), within).otherwise(cross)
    return _distinct_pairs(units, pair_expr).where(F.col("a") != F.col("b"))


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
