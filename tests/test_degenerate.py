"""Degenerate-input regression tests (r6 probe findings).

tools/degenerate_probe.py runs the FULL registry against empty / 1-row
slices of the driver fixtures; the r6 sweep found exactly one crash
class — the negative-sampling draw mod hitting a zero/empty item-key
domain (ps/queries.py max_item). These tests pin that fix plus an
empty-tables smoke over a structurally diverse entry subset, cheap
enough for the suite; the full 50-entry sweep stays in the tool.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from flink_parameter_server_spark.plans import REGISTRY  # noqa: E402
from tools import degenerate_probe as dp  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"

# one entry per structural family: scan+agg, broadcast join, seeded-draw
# sampling, banded near-dup, bucketed ANN, as-of window, driver-loop trainer
SMOKE = [
    "pricing_summary",
    "revenue_by_nation",
    "mf_negative_samples",
    "dedup_near_dup_pairs",
    "embedding_ann_topk",
    "purchase_last_click_asof",
]


@pytest.fixture(scope="module")
def one_row_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("degen") / "one")
    dp.generate(out, rows=1, src=SF_SMALL, spark=spark)
    return out


@pytest.fixture(scope="module")
def empty_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("degen") / "empty")
    dp.generate(out, rows=0, src=SF_SMALL, spark=spark)
    return out


def test_negative_sampling_survives_degenerate_item_domain(spark, one_row_dir):
    # fixture part keys start at 0, so a 1-row slice gives max(p_partkey)=0:
    # pre-fix the draw mod crashed with REMAINDER_BY_ZERO; post-fix the mod
    # base clamps to 1 and every draw drops out of the item join
    n = REGISTRY["mf_negative_samples"].fn(spark, one_row_dir).count()
    assert n == 0


def test_trainers_survive_degenerate_item_domain(spark, one_row_dir):
    # ps_train_epochs feeds the same draw build (mf_neg family) — the same
    # crash pre-fix; post-fix it trains on positives with zero negatives
    n = REGISTRY["ps_train_epochs"].fn(spark, one_row_dir).count()
    assert n > 0  # factor rows for the 1-row positives still materialize


@pytest.fixture(scope="module")
def nulls_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("degen") / "nulls")
    dp.generate(out, rows=0, src=SF_SMALL, spark=spark, nulls=True)
    return out


def test_multimodal_skips_null_payloads(spark, nulls_dir):
    # pre-fix: len(None) in the frame/decode UDF batches crashed the
    # Python worker; post-fix null-payload rows drop at the scan AND in
    # the UDF batches, so only rows with a payload produce output
    df = REGISTRY["multimodal_pipeline"].fn(spark, nulls_dir)
    assert df.where("doc_id % 2 = 0").count() == 0  # nulled parity class gone
    assert df.count() > 0


def test_sequential_trainer_skips_null_instances(spark, nulls_dir):
    # pre-fix: np.stack over a column with null embeddings crashed the
    # stateful stream; post-fix null instances drop in pa.instances.
    # Every column is consumed, and each family's update count must
    # cover exactly its null-free input records. The nulled parity class
    # (even vec_id) covers the whole PA domain (row_id % 4 == 0), so PA
    # trains on nothing and emits no rows, while MF still trains.
    from pyspark.sql import functions as F

    from flink_parameter_server_spark.operators._util import t
    from flink_parameter_server_spark.ps import mf, pa

    rows = REGISTRY["online_ps_sequential"].fn(spark, nulls_dir).collect()
    n_mf = mf.ratings(spark, nulls_dir).where(F.col("user") % 10 == 0).count()
    n_pa = pa.instances(spark, nulls_dir).where(F.col("row_id") % 4 == 0).count()
    assert t(spark, nulls_dir, "embeddings").where(F.col("vec_id") % 4 == 0).count() > n_pa
    assert n_mf > 0
    assert sum(r.n_updates for r in rows if r.family == "mf" and r.dim == 0) == n_mf
    pa_counts = [r.n_updates for r in rows if r.family == "pa"]
    assert pa_counts == [n_pa] * (pa.N_FEATURES if n_pa else 0)
    assert all(r.family in ("mf", "pa") and r.value is not None for r in rows)


def test_text_profile_oracle_parity_on_null_text(spark, nulls_dir):
    # the full-text polynomial hash diverged on NULL text (DuckDB's
    # list_prepend(seed, NULL) -> [seed] folds to the seed; Spark's
    # aggregate over NULL -> NULL) — poly_hash_sql now guards with a
    # CASE so both engines agree null-in-null-out
    import duckdb

    from tests.conftest import register_duck_views
    from tests.oracle import compare

    con = duckdb.connect()
    register_duck_views(con, nulls_dir)
    spec = REGISTRY["text_profile"]
    ok, msg = compare(spec.fn(spark, nulls_dir), con, spec.oracle)
    assert ok, msg


@pytest.fixture(scope="module")
def skew_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("degen") / "skew")
    dp.generate(out, rows=0, src=SF_SMALL, spark=spark, skew=True)
    return out


def test_skewed_keys_keep_oracle_parity(spark, skew_dir):
    # a third of orders/events/lineitem rows remapped onto one hot key
    # (whale customer / bot user / staple item) — keyed aggs, windows,
    # and sessionization must produce the same values DuckDB does on the
    # same skewed tables (the sf0.1 sweep lives in BASELINE.md; this is
    # the cheap suite pin)
    import duckdb

    from tests.conftest import register_duck_views
    from tests.oracle import compare

    con = duckdb.connect()
    register_duck_views(con, skew_dir)
    for name in ("copurchase_recommend_top5", "events_session_windows", "skew_salted_agg"):
        spec = REGISTRY[name]
        ok, msg = compare(spec.fn(spark, skew_dir), con, spec.oracle)
        assert ok, (name, msg)


@pytest.fixture(scope="module")
def unicode_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("degen") / "uni")
    dp.generate(out, rows=0, src=SF_SMALL, spark=spark, unicode_=True)
    return out


def test_multibyte_text_keeps_oracle_parity(spark, unicode_dir):
    # every third token suffixed with accented/CJK/astral chars: the text
    # operators are codepoint-based in both engines and agreed already;
    # the multimodal byte path diverged (Spark encodes utf-8 BYTES, the
    # oracle modeled codepoints) until the oracle grew a SQL utf-8
    # encoder — pin both classes
    import duckdb

    from tests.conftest import register_duck_views
    from tests.oracle import compare

    con = duckdb.connect()
    register_duck_views(con, unicode_dir)
    for name in ("multimodal_pipeline", "text_profile", "dedup_near_dup_pairs"):
        spec = REGISTRY[name]
        ok, msg = compare(spec.fn(spark, unicode_dir), con, spec.oracle)
        assert ok, (name, msg)


@pytest.fixture(scope="module")
def ties_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("degen") / "ties")
    dp.generate(out, rows=0, src=SF_SMALL, spark=spark, ties=True)
    return out


def test_timestamp_ties_keep_oracle_parity(spark, ties_dir):
    # events.ts truncated to the minute -> mass ties, including events
    # landing EXACTLY one gap apart. Spark's session_window keeps an
    # event at prev + gap in the same session (verified empirically),
    # so every gap comparison (batch oracle, streaming oracle, both
    # stateful impls) must break strictly on > gap — the probe caught
    # the >= form producing 4 extra oracle sessions
    import duckdb

    from tests.conftest import register_duck_views
    from tests.oracle import compare

    con = duckdb.connect()
    register_duck_views(con, ties_dir)
    for name in ("events_session_windows", "events_dedup_keep_first", "purchase_last_click_asof"):
        spec = REGISTRY[name]
        ok, msg = compare(spec.fn(spark, ties_dir), con, spec.oracle)
        assert ok, (name, msg)


@pytest.fixture(scope="module")
def nan_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("degen") / "nan")
    dp.generate(out, rows=0, src=SF_SMALL, spark=spark, nonfinite=True)
    return out


def test_nonfinite_measures_keep_oracle_parity(spark, nan_dir):
    # NaN/±inf in events.value: Spark's double->decimal cast silently
    # nulls them while DuckDB's hard-errors — the decimal-sum discipline
    # now EXCLUDES non-finite values explicitly on both sides (the same
    # way NULLs are excluded), so the sums agree and neither engine
    # crashes
    import duckdb

    from tests.conftest import register_duck_views
    from tests.oracle import compare

    con = duckdb.connect()
    register_duck_views(con, nan_dir)
    for name in ("events_windows", "events_multires_rollup", "event_value_tiers"):
        spec = REGISTRY[name]
        ok, msg = compare(spec.fn(spark, nan_dir), con, spec.oracle)
        assert ok, (name, msg)


def test_session_gap_boundary_semantics(spark):
    # the binding contract, verified against F.session_window itself:
    # an event at EXACTLY prev + gap merges into the session; one
    # microsecond past the gap starts a new one
    import datetime

    from pyspark.sql import functions as F

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, t0),
        (1, t0 + datetime.timedelta(minutes=30)),  # exactly one gap: merges
        (2, t0),
        (2, t0 + datetime.timedelta(minutes=30, microseconds=1)),  # past gap: splits
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp")
    out = (
        df.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .count()
        .groupBy("user_id")
        .count()
        .collect()
    )
    sessions = {r["user_id"]: r["count"] for r in out}
    assert sessions == {1: 1, 2: 2}


def test_smoke_entries_complete_on_empty_tables(spark, empty_dir):
    for name in SMOKE:
        n = REGISTRY[name].fn(spark, empty_dir).count()
        assert n == 0, name


@pytest.fixture(scope="module")
def emptytext_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("degen") / "emptytext")
    dp.generate(out, rows=0, src=SF_SMALL, spark=spark, emptytext=True)
    return out


def test_empty_string_text_keeps_oracle_parity(spark, emptytext_dir):
    # EMPTY (not null) text survives `text IS NOT NULL` scan filters, so
    # the zero-length branches actually run: _fake_decode emits
    # f0=f1=0 for b'' while cs[1]/cs[len(cs)] on an empty DuckDB list
    # yield NULL — the features oracle now coalesces both to 0
    # (ADVICE r6). text_profile rides along to pin the empty token
    # array / zero-division branches of the text stack.
    import duckdb

    from tests.conftest import register_duck_views
    from tests.oracle import compare

    con = duckdb.connect()
    register_duck_views(con, emptytext_dir)
    for name in ("multimodal_pipeline", "text_profile"):
        spec = REGISTRY[name]
        ok, msg = compare(spec.fn(spark, emptytext_dir), con, spec.oracle)
        assert ok, (name, msg)
