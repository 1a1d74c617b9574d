"""Property-based spot checks (SURVEY.md §5.2): hypothesis-generated
deltas/predicates over the merge and mutation operators.

Example counts are small (Spark jobs cost ~100 ms each); the properties —
idempotence, insert/delete round-trip, merge==SQL-update semantics — are
the point, not volume.
"""

from __future__ import annotations

from datetime import date, datetime
from decimal import Decimal
from unittest import mock

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from flowbyte_spark.operators.merge import update_by_keys

pytestmark = pytest.mark.filterwarnings("ignore")

KEYS = list(range(1, 8))

delta_strategy = st.lists(
    st.fixed_dictionaries(
        {
            # unmatched keys (99, 100) and a NULL key (round 14): the
            # reference's `UPDATE ... WHERE id = NULL` matches nothing,
            # so a None-id record must be ignored and the target's own
            # NULL-id row must never be updated (predicate semantics —
            # audited NULL-correct, pinned here).
            "id": st.sampled_from(KEYS + [99, 100, None]),
            "val": st.floats(
                min_value=-1e6, max_value=1e6, allow_nan=False, width=32
            ),
            "tag": st.sampled_from(["x", "y", "z"]),
        }
    ),
    min_size=1,
    max_size=6,
)

SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def base_df(spark):
    return spark.createDataFrame(
        [(k, float(k * 10), "base") for k in KEYS] + [(None, -1.0, "base")],
        "id LONG, val DOUBLE, tag STRING",
    )


def as_rows(df):
    # key=str: tuples may carry a None id, which plain tuple comparison
    # cannot order against ints
    return sorted((tuple(r) for r in df.collect()), key=str)


@given(delta=delta_strategy)
@SETTINGS
def test_update_by_keys_idempotent(spark, delta):
    target = base_df(spark)
    once = update_by_keys(target, delta, ["id"])
    twice = update_by_keys(once, delta, ["id"])
    assert as_rows(once) == as_rows(twice)


@given(delta=delta_strategy)
@SETTINGS
def test_update_by_keys_matches_sql_update_semantics(spark, delta):
    """The distributed merge must equal the reference's sequential per-row
    UPDATE loop (sql.py:233-245) applied in list order."""
    target = base_df(spark)
    merged = {r[0]: (r[1], r[2]) for r in update_by_keys(target, delta, ["id"]).collect()}

    expected = {k: (float(k * 10), "base") for k in KEYS}
    expected[None] = (-1.0, "base")  # NULL-id target row: never updated
    for rec in delta:  # sequential reference semantics
        if rec["id"] is not None and rec["id"] in expected:
            expected[rec["id"]] = (rec["val"], rec["tag"])

    assert set(merged) == set(expected)
    for k in expected:
        assert merged[k][1] == expected[k][1]
        assert merged[k][0] == pytest.approx(expected[k][0], rel=1e-6)


@given(delta=delta_strategy)
@SETTINGS
def test_update_never_changes_cardinality(spark, delta):
    target = base_df(spark)
    assert update_by_keys(target, delta, ["id"]).count() == target.count()


# Records may OMIT a column (leave target value) or carry an explicit None
# (overwrite with NULL) — distinct operations in the reference's per-row
# UPDATE loop, and the distributed merge must preserve the distinction.
sparse_delta_strategy = st.lists(
    st.builds(
        lambda id_, val, tag, has_val, has_tag: {
            "id": id_,
            **({"val": val} if has_val else {}),
            **({"tag": tag} if has_tag else {}),
        },
        st.sampled_from(KEYS + [99]),
        st.one_of(st.none(), st.floats(-1e6, 1e6, allow_nan=False, width=32)),
        st.one_of(st.none(), st.sampled_from(["x", "y"])),
        st.booleans(),
        st.booleans(),
    ),
    min_size=1,
    max_size=6,
)


@given(delta=sparse_delta_strategy)
@SETTINGS
def test_sparse_records_match_sequential_update_loop(spark, delta):
    """Per-column presence: absent column → target value survives; explicit
    None → NULL overwrites (sql.py:233-245 applies SET only for keys each
    record contains)."""
    target = base_df(spark)
    merged = {
        r[0]: (r[1], r[2]) for r in update_by_keys(target, delta, ["id"]).collect()
    }

    expected = {k: [float(k * 10), "base"] for k in KEYS}
    expected[None] = [-1.0, "base"]  # NULL-id target row: never updated
    for rec in delta:
        if rec["id"] is not None and rec["id"] in expected:
            if "val" in rec:
                expected[rec["id"]][0] = rec["val"]
            if "tag" in rec:
                expected[rec["id"]][1] = rec["tag"]

    assert set(merged) == set(expected)
    for k, (ev, et) in expected.items():
        assert merged[k][1] == et
        if ev is None:
            assert merged[k][0] is None
        else:
            assert merged[k][0] == pytest.approx(ev, rel=1e-6)


def test_all_none_column_overwrites_with_null(spark):
    """A column that is None in every record (schema inference's worst case)
    still compiles and writes NULLs."""
    target = base_df(spark)
    out = {
        r.id: (r.val, r.tag)
        for r in update_by_keys(
            target, [{"id": 1, "val": None}, {"id": 2, "val": None}], ["id"]
        ).collect()
    }
    assert out[1] == (None, "base")
    assert out[2] == (None, "base")
    assert out[3] == (30.0, "base")


# Record deltas travel to the JVM as an Arrow table
# (merge._records_to_df).  The reference is the path it replaced:
# createDataFrame over the same rows and explicit schema.
typed_delta_strategy = st.lists(
    st.fixed_dictionaries(
        {"id": st.sampled_from(KEYS + [99, None])},
        optional={
            "val": st.one_of(  # mixed int/float in one column
                st.none(),
                st.integers(-1000, 1000),
                st.floats(-1e6, 1e6, allow_nan=False, width=32),
            ),
            "n": st.one_of(st.none(), st.integers(-(2**62), 2**62)),
            "flag": st.one_of(st.none(), st.booleans()),
            "amt": st.one_of(
                st.none(),
                st.decimals(-9999, 9999, places=2, allow_nan=False),
            ),
            "d": st.one_of(
                st.none(), st.dates(date(1900, 1, 1), date(2100, 12, 31))
            ),
            "ts": st.one_of(  # naive datetimes
                st.none(),
                st.datetimes(datetime(1971, 1, 1), datetime(2100, 12, 31)),
            ),
            "tag": st.one_of(st.none(), st.text("xyz", max_size=3)),
            "note": st.none(),  # None in every record that carries it
        },
    ),
    min_size=1,
    max_size=6,
)


def typed_df(spark):
    return spark.createDataFrame(
        [
            (
                k, float(k), k * 1000, k % 2 == 0, Decimal(k) / 4,
                date(2000, 1, k), datetime(2000, 1, k, k, k, k), "base", "n",
            )
            for k in KEYS
        ],
        "id LONG, val DOUBLE, n LONG, flag BOOLEAN, amt DECIMAL(12, 2), "
        "d DATE, ts TIMESTAMP, tag STRING, note STRING",
    )


def _rows_delta(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


@given(delta=typed_delta_strategy)
@example(  # every type at once, a 63-bit int beside a None, mixed int/float
    delta=[
        {"id": 1, "n": 2**62 + 1, "val": 1, "ts": datetime(2001, 2, 3, 4, 5, 6, 7)},
        {
            "id": 2, "n": None, "val": 2.5, "flag": True, "amt": Decimal("1.25"),
            "d": date(2020, 1, 1), "tag": None, "note": None,
        },
    ]
)
@SETTINGS
def test_arrow_delta_matches_row_delta(spark, delta):
    from flowbyte_spark.operators import merge

    target = typed_df(spark).cache()
    got = as_rows(update_by_keys(target, delta, ["id"]))
    with mock.patch.object(merge, "_records_to_df", _rows_delta):
        want = as_rows(update_by_keys(target, delta, ["id"]))
    target.unpersist()
    assert got == want


@given(
    n_insert=st.integers(min_value=1, max_value=5),
    drop_mod=st.integers(min_value=2, max_value=4),
)
@SETTINGS
def test_insert_then_delete_roundtrip(spark, tmp_path_factory, n_insert, drop_mod):
    from flowbyte_spark.operators.mutate import ParquetTable

    path = str(tmp_path_factory.mktemp("prop") / "t")
    table = ParquetTable(spark, path)
    table.overwrite(base_df(spark))
    inserted = spark.createDataFrame(
        [(1000 + i, float(i), "new") for i in range(n_insert)],
        "id LONG, val DOUBLE, tag STRING",
    )
    table.append(inserted)
    # base_df carries a NULL-id row (round 14): the delete predicate's
    # `id >= 1000` is NULL for it — 3VL keeps the row, like SQL DELETE
    n_base = len(KEYS) + 1
    assert table.read().count() == n_base + n_insert
    deleted = table.delete_where(f"id >= 1000 AND id % {drop_mod} = 0")
    survivors = {r.id for r in table.read().collect()}
    assert survivors == set(KEYS) | {None} | {
        1000 + i for i in range(n_insert) if (1000 + i) % drop_mod != 0
    }
    assert deleted == n_base + n_insert - len(survivors)