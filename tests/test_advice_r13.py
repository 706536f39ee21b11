"""Round-13 pins of the r12 advisor items (all five fixed in
sources/txnlog.py, commit 0f2b828): (1) update_where's generated-column
recompute is TRANSITIVE across chained generations; (2) partition
values round-trip TYPED — the recorded write-time type overrides Hive
path inference, so a generated 'yyyy' key reads back string, never int;
(3) an append (partitioned or plain) that exhausts its commit retries
reclaims its orphaned commit root instead of leaking the batch until
vacuum; (4) generation expressions referencing a SET column through
BACKQUOTED identifiers still substitute as whole tokens; (5)
_row_candidates downgrades to a sizing scan only on AnalysisException
and rejects nondeterministic row-level conditions outright."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from sport_advantages_moderne_data_infrastructure_spark.sources.txnlog import (
    TxnConflictError,
    TxnTable,
)


def _orders(spark, n=60):
    return (spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
            .select("o_orderkey", "o_totalprice", "o_orderdate")
            .orderBy("o_orderkey").limit(n))


def test_update_recomputes_chained_generated_columns(spark, tmp_path):
    """g2 reads the SET column, g1 reads g2: a SET of the base column
    must recompute BOTH (the r12 substitution built its pattern from
    the original SET names only, leaving g1 silently stale)."""
    t = TxnTable(str(tmp_path / "chain"))
    t.set_generated_column(
        "cents", "CAST(ROUND(o_totalprice * 100) AS BIGINT)")
    t.set_generated_column("half_cents", "cents / 2")
    t.append(_orders(spark))
    t.update_where(spark, "o_orderkey % 5 = 0",
                   {"o_totalprice": "o_totalprice * 3"})
    s = t.read(spark)
    bad_g2 = s.filter(F.expr(
        "cents != CAST(ROUND(o_totalprice * 100) AS BIGINT)")).count()
    bad_g1 = s.filter(F.expr("half_cents != cents / 2")).count()
    assert bad_g2 == 0, "first-order recompute drifted"
    assert bad_g1 == 0, "chained generation left stale (ADVICE r12 #1)"
    # and the touched rows really changed
    assert s.filter("o_orderkey % 5 = 0").filter(
        F.expr("cents % 3 != 0")).count() == 0


def test_partition_values_round_trip_typed(spark, tmp_path):
    """A DATE_FORMAT 'yyyy' generated key writes string '1998'; Hive
    path inference would read it back as INT, silently diverging from
    the declared type and from an unpartitioned twin. The recorded
    write-time type must win (ADVICE r12 #2)."""
    o = _orders(spark)
    t = TxnTable(str(tmp_path / "typed"))
    t.set_generated_column("order_year",
                           "DATE_FORMAT(o_orderdate, 'yyyy')")
    t.set_partition_column("order_year")
    t.append(o)
    twin = TxnTable(str(tmp_path / "twin"))  # unpartitioned twin
    twin.set_generated_column("order_year",
                              "DATE_FORMAT(o_orderdate, 'yyyy')")
    twin.append(o)
    got = dict(t.read(spark).dtypes)["order_year"]
    want = dict(twin.read(spark).dtypes)["order_year"]
    assert got == want == "string", (got, want)
    # same through the pruned read, and string comparison semantics hold
    pruned = t.read_partitions_where(spark, "order_year >= '1996'")
    assert dict(pruned.dtypes)["order_year"] == "string"
    assert pruned.count() == twin.read(spark).filter(
        "order_year >= '1996'").count()


@pytest.mark.parametrize("partitioned", [True, False],
                         ids=["partitioned", "plain"])
def test_append_reclaims_orphan_on_exhausted_retries(
        spark, tmp_path, monkeypatch, partitioned):
    """When every commit attempt of an append raises TxnConflictError,
    the written data/<uuid> layout must be reclaimed immediately
    instead of leaking a full batch until vacuum (ADVICE r12 #3) — on a
    partition-declared table and on a plain one alike."""
    t = TxnTable(str(tmp_path / "orph"))
    if partitioned:
        t.set_partition_column("day")
    t.append(spark.createDataFrame([(1, 0)], "id int, day int"))

    def always_conflict(*a, **k):
        raise TxnConflictError("forced")

    monkeypatch.setattr(t, "commit", always_conflict)
    monkeypatch.setattr(TxnTable, "_conflict_backoff",
                        staticmethod(lambda attempt: None))
    data_root = os.path.join(t.path, "data")
    before = set(os.listdir(data_root))
    with pytest.raises(TxnConflictError):
        t.append(spark.createDataFrame([(2, 1)], "id int, day int"))
    after = set(os.listdir(data_root))
    assert after == before, (
        f"orphaned commit root leaked: {sorted(after - before)}")


def test_update_substitutes_backquoted_identifiers(spark, tmp_path):
    """A generation expression naming the SET column as `col` must get
    the substitution applied as a whole token — the r12 literal-skip
    pattern skipped quoted strings but substituted INSIDE backticks,
    producing an invalid identifier and an AnalysisException on a
    previously-valid update (ADVICE r12 #4)."""
    t = TxnTable(str(tmp_path / "bq"))
    t.set_generated_column(
        "cents", "CAST(ROUND(`o_totalprice` * 100) AS BIGINT)")
    t.append(_orders(spark))
    t.update_where(spark, "o_orderkey % 4 = 0",
                   {"o_totalprice": "o_totalprice + 1"})
    s = t.read(spark)
    assert s.filter(F.expr(
        "cents != CAST(ROUND(o_totalprice * 100) AS BIGINT)"
    )).count() == 0


def test_partitioned_row_ops_reject_nondeterministic_conditions(
        spark, tmp_path):
    """rand()-carrying conditions on a partitioned table are rejected
    outright: a resolvable nondeterministic predicate would get
    whole-partition rather than per-row delete semantics, and the
    sizing scan would evaluate it more than once with different
    outcomes (ADVICE r12 #5; Delta rejects these too)."""
    t = TxnTable(str(tmp_path / "nd"))
    t.set_partition_column("day")
    t.append(spark.createDataFrame(
        [(i, i % 3) for i in range(12)], "id int, day int"))
    v0 = t.latest_version()
    for cond in ("day = 2 AND rand() < 0.5",
                 "RAND() < 2",
                 "id = 3 AND random() > 0"):
        with pytest.raises(ValueError, match="nondeterministic"):
            t.delete_where(spark, cond)
        with pytest.raises(ValueError, match="nondeterministic"):
            t.update_where(spark, cond, {"id": "id + 100"})
    assert t.latest_version() == v0  # nothing committed
    assert t.read(spark).count() == 12
