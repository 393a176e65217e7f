"""Query/operator registry — the correctness + bench contract.

Every implemented operator from SURVEY.md §2 registers a :class:`QuerySpec`:
a Spark builder ``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible)
an equivalent ANSI-SQL oracle string for DuckDB. The driver hash-compares the
two at sf0.01; ``bench=True`` specs form the sf0.1 benchmark suite.

Cross-engine determinism conventions (both sides MUST follow these, or the
value-hash comparison turns into FP-noise roulette):

1. **Sums of doubles go through DECIMAL, and back to double THROUGH THE
   DIGIT STRING.** Floating-point addition is not associative; Spark sums in
   partition order, DuckDB in its own order, so raw ``SUM(double)`` differs
   in ULPs (and by ~1e-3 absolute at 1e9 magnitude). Convention:
   ``CAST(CAST(SUM(CAST(x AS DECIMAL(28,6))) AS STRING) AS DOUBLE)`` — the
   decimal sum is exact and order-independent, and the string round-trip
   makes the final conversion correctly rounded on BOTH engines: DuckDB's
   direct decimal->double cast is int128->double followed by a divide by
   10^scale (two roundings, 1-2 ulp off once sums reach ~1e10 — caught by
   the sf1 gate on tpch_q1 sum_charge), while string->double parsing is
   correctly rounded everywhere. Same for AVG: exact decimal sum -> string
   -> double, then one double division by the count.
2. **No raw timestamps in output columns.** Spark emits tz-aware (UTC) arrow
   timestamps, DuckDB naive ones — equal instants that compare unequal.
   Output ``CAST(ts AS DATE)`` or an explicitly formatted string.
3. **Every ORDER BY ... LIMIT carries a full deterministic tiebreak** (unique
   key last). Without it, ties at the LIMIT boundary select different row SETS
   per engine, which no order-insensitive compare can fix.
4. **Alias every computed column identically on both sides** — the driver
   sorts columns by NAME before hashing.
5. **Never divide through a DECIMAL literal.** ``x * 1.0 / y`` and
   ``(a - b) / 1024.0`` are DECIMAL division in Spark (literal 1.0 is
   DECIMAL(2,1); result scale-rounded by engine-specific rules) but DOUBLE
   division in DuckDB — values diverge at the 4th-6th decimal. Write
   ``CAST(x AS DOUBLE) / y`` or an exact e-notation double literal
   (``101.66015625e0``).
6. **No raw array/map/struct OUTPUT columns in oracled specs.** The driver's
   canonicalizer sorts rows with pandas, which cannot hash python lists —
   the spec errors out regardless of value correctness. Emit
   ``TO_JSON(expr)`` on the Spark side and ``to_json(expr)`` on the DuckDB
   side; the JSON text for numeric/string lists is byte-identical.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from universql_spark.session import register_testdata, session_uid


def _relax_type(dt: T.DataType) -> T.DataType:
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _relax_type(f.dataType), True, f.metadata) for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_relax_type(dt.elementType), True)
    if isinstance(dt, T.MapType):
        # Map keys are non-nullable by the Arrow spec on both engines; relax values only.
        return T.MapType(dt.keyType, _relax_type(dt.valueType), True)
    return dt


def _has_nonnullable(dt: T.DataType) -> bool:
    if isinstance(dt, T.StructType):
        return any((not f.nullable) or _has_nonnullable(f.dataType) for f in dt.fields)
    if isinstance(dt, T.ArrayType):
        return (not dt.containsNull) or _has_nonnullable(dt.elementType)
    if isinstance(dt, T.MapType):
        return (not dt.valueContainsNull) or _has_nonnullable(dt.valueType)
    return False


def _toplevel_guard_cols(schema: T.StructType) -> list:
    """The guard projection that relaxes top-level non-nullable fields
    (see relax_nullability). Columns are plain expression trees keyed only
    on field (name, nullable) flags, so a caller whose output schema is
    fixed per (session, sf_dir) may build them once and reuse them across
    plan creations — the register() wrapper memoizes exactly that."""
    from pyspark.sql import functions as F

    guard = F.spark_partition_id() >= 0
    return [
        F.when(guard, F.col(f"`{f.name}`")).alias(f.name)
        if not f.nullable
        else F.col(f"`{f.name}`")
        for f in schema.fields
    ]


def relax_nullability(df: DataFrame) -> DataFrame:
    """Mark every output field nullable (recursively), preserving values/order.

    Spark constant-folds literal casts to ``not null`` Arrow fields while
    DuckDB emits every result field nullable; the driver's value hash covers
    the serialized Arrow result, so bit-identical VALUES can still
    hash-mismatch on nullability flags alone (VERDICT r5 'What's wrong' #1,
    the ``types_cast_gallery`` driver-gate fail). ``df.to(schema)`` re-derives
    non-null during analysis, so the relaxation rides a union with an empty
    all-nullable relation: Union output nullability is the OR of its children,
    and the empty side contributes zero rows and zero execution cost.
    """
    if df.isStreaming or not _has_nonnullable(df.schema):
        return df
    # Top-level-only divergence (the usual case): wrap each non-nullable
    # column in a CASE guarded by a NON-FOLDABLE always-true condition.
    # Nullability comes from the ANALYZED plan (no else branch -> nullable)
    # while the optimizer still collapses the projection — measured
    # plan-identical, zero extra stages. (when(lit(True), c) does NOT work:
    # the analyzer eager-folds foldable conditionals and re-derives
    # not-null; spark_partition_id() is nondeterministic, so it survives
    # analysis.) An earlier union-with-empty-relation form cost ~30 ms per
    # query in the bench replan tier from the extra empty stage.
    if not any(_has_nonnullable(f.dataType) for f in df.schema.fields):
        return df.select(_toplevel_guard_cols(df.schema))
    # Nested non-nullable fields (struct/array/map internals): union with an
    # empty typed relation — Union ORs child nullability recursively.
    from pyspark.sql import functions as F

    relaxed = _relax_type(df.schema)
    empty = df.sparkSession.range(0).select(
        [F.lit(None).cast(f.dataType).alias(f.name) for f in relaxed.fields]
    )
    return df.unionByName(empty)


@dataclass
class QuerySpec:
    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None -> rows-only check
    bench: bool = False  # include in bench.py sf0.1 suite
    category: str = ""
    doc: str = ""
    sql: str | None = None  # Spark-side SQL text when the spec is plain SQL


REGISTRY: dict[str, QuerySpec] = {}

# Views are session-scoped; re-register only when sf_dir changes.
# Keyed on session_uid (session-lifetime UUID), not id(spark): CPython
# reuses object ids, so a torn-down session + new session could alias
# (VERDICT r10 item 7).
_registered: dict[str, str] = {}


def ensure_views(spark: SparkSession, sf_dir: str) -> None:
    key = session_uid(spark)
    if _registered.get(key) != sf_dir:
        register_testdata(spark, sf_dir)
        _registered[key] = sf_dir


def register(
    name: str,
    oracle: str | None,
    bench: bool = False,
    category: str = "",
    doc: str = "",
    sql: str | None = None,
) -> Callable[[Callable[[SparkSession, str], DataFrame]], Callable]:
    """Decorator: register a Spark query builder under ``name``."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]) -> Callable:
        # A spec's output schema is deterministic per (session, sf_dir), so
        # the relax_nullability OUTCOME is too — not just whether it fires
        # (the r9 memo) but, for the common top-level case, the exact guard
        # projection. Memoize it: per call that saves the Py4J schema fetch,
        # the nullability walk and the per-field Column construction
        # (~15-45 ms of driver latency measured at r10 on the 20 bench
        # specs whose output carries a non-nullable count/rank column),
        # leaving one cheap select over prebuilt expression trees.
        # The cached projection is stored as the JVM COLUMN SEQ, not the
        # Python Column list: py4j converts a Python list argument
        # element-by-element on EVERY call (one ArrayList.add round trip
        # per column), so df.select(list_of_columns) costs ~2+3N round
        # trips per creation while jdf.select(cached_seq) costs one — the
        # seq is immutable on the JVM side and the resulting plan is
        # byte-identical (same Column expression trees; r10 census:
        # 21 -> 3 round trips on a 2-column guard).
        # Sentinels: False = raw output already all-nullable (skip);
        # ("jseq", seq) = cached JVM guard-column seq; list = cached
        # Python guard columns (fallback when classic py4j internals are
        # unavailable, e.g. Spark Connect); "nested" = rare recursive
        # case, rebuild each call. Keyed on session_uid, not id(spark)
        # (id reuse could serve a stale JVM seq from a dead gateway —
        # VERDICT r10 item 7); session_uid is memoized on the wrapper, so
        # the lookup stays zero Py4J round trips per creation.
        relax_memo: dict[tuple[str, str], object] = {}

        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            ensure_views(spark, sf_dir)
            df = fn(spark, sf_dir)
            key = (session_uid(spark), sf_dir)
            mode = relax_memo.get(key)
            if mode is False:
                return df
            if isinstance(mode, tuple) and mode[0] == "jseq":
                return type(df)(df._jdf.select(mode[1]), spark)
            if isinstance(mode, list):
                return df.select(mode)
            if mode == "nested":
                return relax_nullability(df)
            out = relax_nullability(df)
            if out is df:
                relax_memo[key] = False
            elif any(_has_nonnullable(f.dataType) for f in df.schema.fields):
                relax_memo[key] = "nested"
            else:
                cols = _toplevel_guard_cols(df.schema)
                try:
                    from pyspark.sql.classic.column import _to_seq  # noqa: PLC0415

                    relax_memo[key] = (
                        "jseq",
                        _to_seq(spark.sparkContext, [c._jc for c in cols]),
                    )
                except Exception:
                    relax_memo[key] = cols
            return out

        REGISTRY[name] = QuerySpec(
            name=name,
            spark=wrapped,
            oracle=oracle,
            bench=bench,
            category=category,
            doc=doc or (fn.__doc__ or ""),
            sql=sql,
        )
        return wrapped

    return deco


def register_sql(
    name: str,
    sql: str,
    oracle: str | None = None,
    bench: bool = False,
    category: str = "",
    doc: str = "",
) -> None:
    """Register a query whose Spark side is plain Spark SQL.

    ``oracle`` defaults to the same string — most of the inventory is ANSI SQL
    that parses identically in Spark and DuckDB; pass a separate oracle when
    dialects diverge (e.g. timestamp formatting functions).
    """

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        return spark.sql(sql)

    fn.__doc__ = doc
    register(
        name, oracle if oracle is not None else sql, bench=bench, category=category, doc=doc, sql=sql
    )(fn)


# The driver's correctness gate samples the FIRST 50 oracled specs in
# REGISTRY order. Rotation policy (VERDICT r2 'Next round' #1): specs with no
# sf0.01 driver evidence yet go first — newest additions, then the specs the
# r1/r2 gates never sampled — so every spec accumulates a driver-verified row
# over rounds. The full registry is additionally gated locally each round at
# sf0.01 (tools_correctness_local.py -> CORRECTNESS_LOCAL.json).
_GATE_PRIORITY: list[str] = [
    # ---- round-10 head (VERDICT r9 'Next round' #1): win_ordered_collect's
    # r9 driver row was an ERROR (raw ARRAY on the result edge crashed the
    # gate's pandas canonicalizer); the sequence is now projected through
    # to_json on both sides (relational.py) and needs a clean driver row:
    "win_ordered_collect",
    # ---- round-9 head (VERDICT r8 'Next round' #1): the specs that had
    # never appeared in any CORRECTNESS_rN driver gate (all are
    # local/sf1/decade hash-green; all carry oracles); all got green r9
    # driver rows, kept next for re-gate continuity:
    "ann_maxsim_topk", "join_fuzzy_blocked", "graph_triangle_count",
    "events_funnel_steps", "events_decay_features",
    "stream_cms_cells", "stream_static_enrich", "stream_user_profiles",
    "stream_view_click_outer", "stream_attrib_windowed",
    # ---- new r9 specs (need first driver rows):
    "ann_ivf_recall", "ann_pq_recall", "stream_dedup_keys",
    # ---- specs whose behavior changed in r9 (ADVICE fixes touched the
    # TIME surface cast path and the dialect splitter):
    "types_cast_gallery",
    # ---- round-8 head: specs whose behavior or oracle changed this round,
    # plus the two freshly golden-value-oracled specs (VERDICT r7 #4 —
    # these two previously recorded `no_oracle` forever; their driver rows
    # should now be hash-green):
    "fn_minhash_verbatim", "agg_linear_count_distinct",
    # six more golden-value conversions (tools_golden_oracles.py):
    "embed_cluster_profile", "text_bpe_merges", "dedup_simhash",
    "text_cms_heavy_hitters", "dedup_incremental_index", "embed_hard_negatives",
    # ...and the remaining 13 deterministic numpy-oracled specs, converted
    # late r8 — after these, every `no_oracle` driver row is an
    # approximate-by-construction spec (property-tested), nothing else:
    "graph_pagerank_similarity", "embed_kmeans", "ann_lsh_buckets",
    "ann_lsh_pairs", "dedup_lsh_tuning_curve", "dedup_bloom_decontaminate",
    "embed_kcenter_sample", "ann_pq_topk", "dedup_semantic",
    "text_quality_classifier", "text_compression_ratio",
    "multimodal_audio_chunks", "embed_pca_project",
    # predicate/fraction changes de-emptying the sf1 gate (VERDICT r7 #3):
    "tpch_q10_returns", "tpch_q11_important", "tpch_q20_supply",
    # oracle ORDER BY dropped for sort symmetry (VERDICT r7 'wrong' #3):
    "dedup_exact", "text_tokens",
    # index caches now fold a data-version into their keys (ADVICE r7):
    "dedup_minhash_lsh", "ann_ivf_topk", "ann_cosine_topk",
    # dialect ring touched (FLATTEN alias scoping + epoch thresholds):
    "adv_flatten_recursive", "adv_variant_colon_path", "fn_datetime_parts_ext",
    # new r8: Snowflake multiset ARRAY_EXCEPT/ARRAY_INTERSECTION semantics
    # (probe-sweep gap; Spark's builtins are set-based):
    "fn_array_multiset",
    # new r8 (probe sweep #4): SPLIT_PART part 0, CONCAT_WS null-poisoning,
    # INITCAP default punctuation delimiters, TO_BOOLEAN on/off:
    "fn_string_edges",
    # new r8 (probe sweep #6): DATEDIFF boundary-crossing semantics, unit
    # aliases, DAYOFWEEK 0=Sunday — oracled by DuckDB's NATIVE date_diff:
    "fn_datediff_boundaries",
    # new r8 (probe sweep #7): default NULL ordering (ASC NULLS LAST /
    # DESC NULLS FIRST — both opposite to Spark's defaults):
    "adv_null_ordering",
    # new r8 (probe sweep #9): quantified subquery comparisons, oracled by
    # DuckDB running the identical = ANY / > ALL text natively:
    "adv_quantified_cmp",
    # ---- round-7 first-50 (VERDICT r6 'Next round' #1-2): the 19 specs
    # with no driver evidence of any kind (local-green since late r6) lead,
    # closing cumulative driver coverage at 271/271; then embed_pca_project
    # (the r6 round's ONE real defect — raw array<double> output crashed
    # the driver canonicalizer; now exploded to scalar (vec_id, dim, x)
    # rows per convention #6 and needing a clean driver row); then specs
    # changed in r7; then regression re-gates on the most load-bearing
    # greens to fill the window.
    # 19 never-gated (local r6 green, heads of the post-r6 tier):
    "agg_regr_family", "fn_regexp_instr_count", "fn_width_bucket_months",
    "agg_linear_count_distinct", "multimodal_patchify",
    "agg_bitmap_distinct", "fn_parse_ip_misc",
    "text_pmi_collocations", "corpus_source_kl",
    "text_ngram_diversity", "dedup_fuzzy_verify", "embed_hard_negatives",
    "graph_pagerank_similarity",
    "events_retention_cohorts", "ts_interpolate_linear",
    "agg_histogram_quantile",
    "ann_hamming_topk", "dedup_ngram_containment", "ann_hamming_rerank_topk",
    # the r6 defect, fixed this round (needs a clean driver row):
    "embed_pca_project",
    # ---- specs added/changed in r7 (kept ahead of re-gates) ----
    # Snowflake-verbatim MINHASH/COMBINE/APPROXIMATE_SIMILARITY, new r7
    # (XXH64 numpy oracle; displaces the unpivot_stack re-gate):
    "fn_minhash_verbatim",
    # array/object CONSTANT syntax over table columns, new r7 (DuckDB
    # parses the identical constants natively; displaces order_by_ordinal):
    "adv_const_literals",
    # ---- re-gates: load-bearing greens filling the 50-slot window ----
    "tpch_q1", "tpch_q3", "tpch_q5", "tpch_q6", "tpch_q18_big_orders",
    "dedup_minhash_lsh", "ann_ivf_topk", "text_tfidf_topk", "join_asof",
    "dedup_exact", "dedup_components", "text_tokens", "text_quality",
    "cb_q00", "cb_q07", "cb_q27", "cb_q29", "cb_q42",
    "types_cast_gallery", "fn_string_ext", "fn_higher_order",
    "stream_tumbling_counts", "agg_grouping_id",
    "agg_percentile_within_group", "win_nth_value", "text_bm25_topk",
    "dedup_line_removal", "corpus_seqlen_histogram",
    # ---- end of first-50 ----
    "order_by_ordinal", "unpivot_stack",
    # round-6 window (all driver-green r6), kept next for deterministic
    # ordering:
    "corpus_source_quota", "text_char_entropy", "embed_matryoshka_recall",
    "fn_sketch_seq_collate", "corpus_temperature_mix", "fn_datetime_parts_ext",
    "fn_regexp_occurrence_ext", "fn_conversion_ext", "dedup_component_histogram",
    "text_quality_mask", "null_join_semantics",
    "tpch_q4_semi", "tpch_q7_volume", "tpch_q10_returns", "tpch_q14_promo",
    "tpch_q19_disjunct",
    "embed_kmeans", "embed_cluster_profile",
    "dedup_simhash", "ann_lsh_buckets", "ann_lsh_pairs",
    "agg_approx_distinct", "agg_approx_quantile", "sample_reservoir",
    "text_bpe_merges", "text_cms_heavy_hitters", "dedup_lsh_tuning_curve",
    "fn_pattern_quantified",
    "dedup_bloom_decontaminate", "embed_kcenter_sample",
    "dedup_crossdoc_ngrams", "cb_q12", "fn_fuzzy_scalar_ext",
    # driver-green already (kept for deterministic ordering of the
    # most-load-bearing specs after the rotation tiers):
    "tpch_q8_mktshare", "tpch_q9_profit",
    "tpch_q11_important", "tpch_q12_late", "tpch_q13_custdist",
    "tpch_q15_topsupp", "tpch_q16_suppcnt", "tpch_q17_smallqty",
    "tpch_q20_supply", "tpch_q21_waiting", "tpch_q22_opportunity",
    "adv_connect_by", "adv_recursive_cte", "corpus_stratified_sample",
    "text_quality_percentile", "agg_array_object_agg", "adv_flatten_recursive",
    "dedup_exact_props", "dedup_ngram_jaccard",
    "dedup_embedding",
    "dedup_pipeline_survivors", "ann_cosine_topk_pandas",
    "text_langid", "text_fingerprint",
    "text_lang_stats", "text_lm_score",
    "profile_documents", "quality_constraints", "multimodal_decode_meta",
    "multimodal_audio_meta", "multimodal_frame_sample",
    "corpus_training_mix", "adv_variant_colon_path",
    "win_rank_topn_per_group", "win_ignore_nulls_locf",
    "agg_listagg_ordered", "agg_min_max_by",
    "cb_q41",
]

#: Number of leading _GATE_PRIORITY slots the driver samples.
_GATE_WINDOW = 50


# Rows-only specs (oracle is None) are pinned to the back of the registry
# order so they don't burn driver-gate slots (VERDICT r3 #3) — EXCEPT the
# ones this round's gate window explicitly prioritizes: r6 deliberately
# spends slots on the 9 never-gated rows-only/numpy specs so every spec in
# the registry has a driver row (VERDICT r5 #2, cumulative 240/240).
def _rows_only_last(registry: dict[str, "QuerySpec"]) -> list[str]:
    window = set(_GATE_PRIORITY[:_GATE_WINDOW])
    oracled = [n for n, s in registry.items() if s.oracle is not None or n in window]
    rows_only = [n for n, s in registry.items() if s.oracle is None and n not in window]
    return oracled + rows_only


def load_all() -> dict[str, QuerySpec]:
    """Import every query module (side effect: fills REGISTRY), then apply
    the driver-gate rotation order above."""
    from universql_spark.queries import dml  # noqa: F401  (isort: skip)
    from universql_spark.queries import advanced, clickbench, llmops, relational, tpch  # noqa: F401

    order = [n for n in _GATE_PRIORITY if n in REGISTRY] + [
        n for n in REGISTRY if n not in _GATE_PRIORITY
    ]
    ordered = {n: REGISTRY[n] for n in order}
    reordered = {n: ordered[n] for n in _rows_only_last(ordered)}
    REGISTRY.clear()
    REGISTRY.update(reordered)
    return REGISTRY
