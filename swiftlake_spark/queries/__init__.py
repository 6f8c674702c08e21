"""Declared query surface (SURVEY.md §2.B) as oracle-checked pairs.

Every operator the engine commits to support gets a named entry here:
a PySpark implementation ``(spark, sf_dir) -> DataFrame`` and, where
SQL-expressible, an equivalent ANSI-SQL oracle string that DuckDB runs on
the same parquet tables.  The driver hash-compares the two at sf0.01
(CORRECTNESS_r{N}.json).

Conventions that make hash-matching robust (FIXTURES.md §4):

- every query has a deterministic ORDER BY on a unique key;
- double aggregates go through DECIMAL (exact, order-independent) and are
  cast back to DOUBLE at the end, identically on both sides;
- COUNT(...) is BIGINT on both sides; sums of integers are cast to BIGINT
  in the oracle (DuckDB would widen to HUGEINT);
- every computed column is aliased to the same name on both sides.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass
class QueryDef:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL; None → driver does rows-only check
    doc: str = ""


REGISTRY: dict[str, QueryDef] = {}


def query(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator registering a declared query."""

    def wrap(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = QueryDef(name=name, fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""))
        return fn

    return wrap


def _load_all() -> None:
    # Import side-effect: populate REGISTRY.
    from swiftlake_spark.queries import relational  # noqa: F401
    from swiftlake_spark.queries import events  # noqa: F401
    from swiftlake_spark.queries import llm  # noqa: F401
    from swiftlake_spark.queries import extended  # noqa: F401
    from swiftlake_spark.queries import types  # noqa: F401
    from swiftlake_spark.queries import tpch  # noqa: F401
    from swiftlake_spark.queries import corpus  # noqa: F401


# Gate rotation.
# The correctness driver hash-checks only the FIRST 50 entries of
# queries() in iteration order, so certification must rotate: names in
# _GATE_PRIORITY are emitted first, everything else follows in
# registration order.  Rule: order every registered name by (last green
# round, position in that round's CORRECTNESS file), never-certified
# names first.  Regenerate each round with
# `python scripts/gen_gate_priority.py`; tests/test_gate_rotation.py pins it.
_GATE_PRIORITY = [
    # last certified r11
    'q49_simhash_neardup',
    'q50_ann_lsh_topk',
    'q58_ivf_topk',
    'q53_multimodal_features',
    'q108_audio_features',
    'q114_video_frames',
    'q115_semantic_dedup',
    'q150_image_phash_dedup',
    # last certified r12
    'q134_hopping_window',
    'q135_anomaly_zscore',
    'q136_event_transitions',
    'q123_span_dedup',
    'q124_bm25',
    'q125_dsir_weights',
    'q126_editdist_neardup',
    'q127_tfidf_topterms',
    'q128_stratified_sample',
    'q120_jpeg_features',
    'q57_quantiles',
    'q59_vocab_topk',
    'q63_exists_subquery',
    'q64_explode_tokens',
    'q65_string_agg',
    'q66_unpivot',
    'q67_regexp',
    'q68_sequence',
    'q69_bitwise',
    'q70_date_arith',
    'q71_array_funcs',
    'q72_local_volume',
    'q73_window_extras',
    'q74_conditional_agg',
    'q75_gopher_rules',
    'q77_contamination',
    'q78_returned_revenue',
    'q79_median_stats',
    'q80_set_ops_all',
    'q81_grouping_id',
    'q82_nation_volume',
    'q83_important_stock',
    'q84_uuid_type',
    'q85_time_type',
    'q86_min_cost_supplier',
    'q87_order_priority',
    'q88_forecast_revenue',
    'q89_market_share',
    'q90_nation_profit',
    'q91_customer_distribution',
    'q92_promo_revenue',
    'q93_top_supplier',
]


def _ordered() -> dict[str, QueryDef]:
    """REGISTRY in gate order: _GATE_PRIORITY names first, rest as registered."""
    _load_all()
    first = [n for n in _GATE_PRIORITY if n in REGISTRY]
    rest = [n for n in REGISTRY if n not in set(first)]
    return {n: REGISTRY[n] for n in (*first, *rest)}


def _with_worker_imports(fn):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        # make the package importable in Python workers no matter what
        # cwd the harness runs from (UDF closures reference the module)
        from swiftlake_spark.session import ensure_worker_imports

        ensure_worker_imports(spark)
        return fn(spark, sf_dir)

    run.__name__ = fn.__name__
    run.__doc__ = fn.__doc__
    return run


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _with_worker_imports(q.fn) for name, q in _ordered().items()}


def all_oracles() -> dict[str, str]:
    return {name: q.oracle for name, q in _ordered().items() if q.oracle is not None}
