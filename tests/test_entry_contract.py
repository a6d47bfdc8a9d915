"""Driver-contract tests: queries()/oracle_sql() coherence, oracle SQL
validity in DuckDB, and fast Spark-vs-DuckDB spot checks (the full sweep
lives in scripts/check_correctness.py)."""

from __future__ import annotations

import math

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_CORRECT

# documented non-SQL ops (UDTF fan-out / approximate recall / index
# lifecycle / HLL estimate)
ROWS_ONLY = {
    "key_components",
    "cosine_topk_lsh",
    "cosine_topk_ivf",
    "index_update_lifecycle",
    "cardinality_agg",
    "resize_images",
    "frame_sample",
    "delete_by_query_lifecycle",
    "reindex_lifecycle",
    "cosine_topk_sq",
    "doclen_percentiles_approx",
    "cosine_topk_pq",
}


def test_queries_and_oracles_align():
    qs = entrymod.queries()
    os_ = entrymod.oracle_sql()
    assert set(os_) <= set(qs)
    assert set(qs) - set(os_) == ROWS_ONLY
    assert len(qs) >= 35


def test_gate_window_r5_composition():
    """The driver gate checks the FIRST 50 queries() entries. The r5
    window must be: the two r4 repairs first, then the 6 fixed latent
    type-hazard entries, and every window entry must carry a DuckDB
    oracle (no rows-only slots wasted on the hash-checking window)."""
    qs = list(entrymod.queries())
    os_ = entrymod.oracle_sql()
    assert qs[:2] == ["esql", "term_vectors"]
    assert set(qs[2:8]) == {
        "stats_bucket", "bucket_script_selector", "train_eval_split",
        "pack_sequences", "quality_filter", "quality_filter_fast",
    }
    window = qs[:50]
    assert all(name in os_ for name in window), [
        n for n in window if n not in os_
    ]
    # the full order list covers every entry exactly once
    assert len(qs) == len(set(qs))


# Entries that share one oracle SQL on purpose: different algorithms
# that must give the same answer (exhaustive vs WAND vs MaxScore BM25,
# corpus-path vs WAND-path random_score, batch vs streaming sessions).
_SAME_ORACLE_DIFFERENT_ALGORITHM = [
    {"bm25_topk", "bm25_topk_wand", "bm25_maxscore"},
    {"random_score", "bm25_random_wand"},
    {"sessionize", "stream_sessionize"},
]


def test_shared_oracle_entries_are_aliases_or_listed():
    """Two entries answering to one oracle SQL either run the same
    callable (an alias) or are a listed different-algorithm group — a
    second implementation of the same output needs a reason to exist."""
    qs = entrymod.queries()
    by_sql: dict[str, set[str]] = {}
    for name, sql in entrymod.oracle_sql().items():
        by_sql.setdefault(sql, set()).add(name)
    for names in by_sql.values():
        if len(names) < 2:
            continue
        aliases = len({id(qs[n]) for n in names}) == 1
        assert aliases or names in _SAME_ORACLE_DIFFERENT_ALGORITHM, names


# The BM25 idf expression has one home per place its inputs come from:
# the query path's contributions (n_docs and avgdl over every doc), the
# textstats weight (over docs with a token), and build.idf_col (n_docs
# known on the driver). A scorer that spells it again is a real variant of
# BM25 and is listed here with what makes it one.
_BM25_IDF_HOMES = {
    ("query.py", "_bm25_contribs"),
    ("textstats.py", "_bm25_weight"),
    ("build.py", "idf_col"),
}
_BM25_IDF_VARIANTS = {
    ("query.py", "explain_score"): "emits idf and the weight as columns",
    ("query.py", "trec_pool"): "scores two b values in one groupBy",
    ("query.py", "bm25_topk_synonyms"): "df of blended synonym pseudo-terms",
    ("query.py", "combined_fields_topk"): "BM25F length over summed fields",
    ("textstats.py", "bm25f_topk"): "BM25F field-weighted tf and length",
    ("textstats.py", "bm25_plus_topk"): "BM25+ adds delta to the tf-norm",
    ("textstats.py", "static_prune_audit"): "every term, df from the tf frame",
    ("textstats.py", "norms_quant_audit"): "tf-norm of the quantized doclen",
    ("textstats.py", "shard_idf_drift"): "shard-local next to global stats",
}


def _bm25_idf_sites() -> set[tuple[str, str]]:
    """(module file, top-level function) of every ``F.log(1.0 + ...)``
    call with the BM25 ``+ 0.5`` smoothing of both df terms, in
    operators/."""
    import ast
    from pathlib import Path

    ops = Path(entrymod.__file__).parent / "unichem2index_spark" / "operators"
    sites = set()
    for path in sorted(ops.glob("*.py")):
        for fn in ast.parse(path.read_text()).body:
            if not isinstance(fn, (ast.FunctionDef, ast.ClassDef)):
                continue
            for node in ast.walk(fn):
                if not (
                    isinstance(node, ast.Call)
                    and ast.unparse(node.func) == "F.log"
                ):
                    continue
                src = ast.unparse(node)
                if "1.0" in src and src.count("0.5") >= 2:
                    sites.add((path.name, fn.name))
    return sites


def test_bm25_idf_is_spelled_only_in_its_homes_and_variants():
    """A corpus scorer takes its BM25 weight from its convention's helper;
    a new inline copy of the idf either moves onto the helper or is
    listed as a variant with its reason."""
    allowed = _BM25_IDF_HOMES | set(_BM25_IDF_VARIANTS)
    sites = _bm25_idf_sites()
    assert sites - allowed == set(), "inline BM25 idf copies"
    assert allowed - sites == set(), "listed sites without a BM25 idf"


def test_oracle_sql_all_valid_duckdb(duck):
    for name, sql in entrymod.oracle_sql().items():
        duck.execute(f"SELECT * FROM ({sql}) LIMIT 0")  # parse + bind


# Canon-compat contract (CORRECTNESS_r04 postmortem): the driver's
# pandas-based canonicalizer converts DuckDB HUGEINT to float64 (hash
# mismatch vs Spark's int64 for value-equal integer SUMs) and crashes
# sorting LIST/STRUCT cells ("unhashable type: 'list'"). No oracle may
# therefore emit those output types — integer SUMs must be CAST to
# BIGINT and list outputs serialized (concat_ws / array_to_string) on
# BOTH sides. DESCRIBE binds without executing, so this sweeps all
# oracles cheaply.
_CANON_HOSTILE = ("HUGEINT", "[]", "STRUCT", "MAP(")


def test_oracle_output_types_are_canon_compatible(duck):
    bad = []
    for name, sql in entrymod.oracle_sql().items():
        rows = duck.execute(f"DESCRIBE SELECT * FROM ({sql}) q").fetchall()
        for col, typ, *_ in rows:
            t = typ.upper()
            if any(h in t for h in _CANON_HOSTILE):
                bad.append((name, col, typ))
    assert not bad, f"canon-hostile oracle output columns: {bad}"


def test_spark_entry_schemas_are_canon_compatible(spark):
    """Spark half of the canon contract: no queries() entry may emit a
    top-level ArrayType/StructType/MapType column — the driver's pandas
    sort crashes on such cells. Schema-only (no collect), so this is a
    plan-construction sweep over every entry."""
    from pyspark.sql import types as T

    bad = []
    for name, fn in entrymod.queries().items():
        sdf = fn(spark, SF_CORRECT)
        for f in sdf.schema.fields:
            if isinstance(
                f.dataType, (T.ArrayType, T.StructType, T.MapType)
            ):
                bad.append((name, f.name, f.dataType.simpleString()))
    assert not bad, f"canon-hostile Spark output columns: {bad}"


def test_local_twin_canon_catches_driver_hazards():
    """Regression test of the twin itself: the pre-fix esql (HUGEINT →
    float64 vs int64, value-equal) and term_vectors (list cells) shapes
    must FAIL under scripts/check_correctness.canon — the old str()-
    based normalizer hid both, which is why local green did not predict
    driver red in r4."""
    import importlib.util
    import pathlib

    import pandas as pd
    import pytest as _pytest

    spec = importlib.util.spec_from_file_location(
        "check_correctness",
        pathlib.Path(__file__).parent.parent
        / "scripts" / "check_correctness.py",
    )
    cc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cc)

    # HUGEINT shape: same values, int64 vs float64 — kinds must differ.
    spark_side = pd.DataFrame({"s": [149174], "g": ["a"]})
    duck_side = pd.DataFrame({"s": [149174.0], "g": ["a"]})
    sk, sr = cc.canon(spark_side)
    dk, dr = cc.canon(duck_side)
    assert sk != dk  # the esql r4 failure reproduces locally now
    assert sr == dr  # ... even though the values normalize identically

    # LIST shape: pandas sort_values must crash exactly as the driver's.
    listy = pd.DataFrame({"positions": [[1, 2], [0]], "t": ["a", "b"]})
    with _pytest.raises(TypeError):
        cc.canon(listy)


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.9g}"
    if hasattr(v, "isoformat"):
        return v.isoformat().replace("+00:00", "")
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


@pytest.mark.parametrize(
    "name",
    ["bm25_topk", "term_stats", "tpch_q1", "doc_fingerprint", "dedup_exact"],
)
def test_spot_check_vs_duckdb(spark, duck, name):
    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    sdf = qs[name](spark, SF_CORRECT)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]
    res = duck.execute(os_[name])
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()
    assert sorted(s_cols) == sorted(d_cols)
    assert len(s_rows) == len(d_rows)
    order_s = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
    order_d = sorted(range(len(d_cols)), key=lambda i: d_cols[i])
    a = sorted(tuple(_norm(r[i]) for i in order_s) for r in s_rows)
    b = sorted(tuple(_norm(r[i]) for i in order_d) for r in d_rows)
    assert a == b
