"""Copy-on-write MERGE: latest-wins semantics, untouched partitions
keep their files byte-for-byte, re-merge is idempotent."""

from __future__ import annotations

import os
from pathlib import Path

import pytest

from orionld_to_hive_spark.sources.merge import merge_upsert
from orionld_to_hive_spark.sources.warehouse import write_partitioned


def _files_mtimes(path: str, part: str) -> dict[str, float]:
    d = Path(path) / part
    return {
        f.name: f.stat().st_mtime_ns
        for f in d.rglob("*.parquet")
    }


def _base(spark):
    return spark.createDataFrame(
        [
            (1, "a", 1, 10.0),
            (2, "a", 1, 20.0),
            (3, "b", 1, 30.0),
            (4, "c", 1, 40.0),
        ],
        "id LONG, day STRING, version LONG, value DOUBLE",
    )


def test_merge_rewrites_only_touched_partitions(spark, tmp_path):
    path = str(tmp_path / "tbl")
    write_partitioned(_base(spark), path, partition_cols=("day",))
    before_b = _files_mtimes(path, "day=b")
    before_c = _files_mtimes(path, "day=c")

    updates = spark.createDataFrame(
        [
            (2, "a", 2, 21.0),  # update id 2 in partition a
            (5, "b", 1, 50.0),  # insert id 5 into partition b
        ],
        "id LONG, day STRING, version LONG, value DOUBLE",
    )
    n = merge_upsert(path, updates, ("id",), "version", ("day",))
    assert n == 2

    got = {
        r.id: (r.day, r.version, r.value)
        for r in spark.read.parquet(path).collect()
    }
    assert got[2] == ("a", 2, 21.0)  # updated
    assert got[5] == ("b", 1, 50.0)  # inserted
    assert got[1] == ("a", 1, 10.0) and got[3] == ("b", 1, 30.0)
    # partition c untouched: same files, same mtimes
    assert _files_mtimes(path, "day=c") == before_c
    # partition b WAS rewritten
    assert _files_mtimes(path, "day=b") != before_b


def test_merge_is_idempotent_and_latest_wins(spark, tmp_path):
    path = str(tmp_path / "tbl2")
    write_partitioned(_base(spark), path, partition_cols=("day",))
    updates = spark.createDataFrame(
        [(2, "a", 2, 21.0), (2, "a", 1, 99.0)],  # stale version ignored
        "id LONG, day STRING, version LONG, value DOUBLE",
    )
    merge_upsert(path, updates, ("id",), "version", ("day",))
    merge_upsert(path, updates, ("id",), "version", ("day",))  # re-run
    rows = [r for r in spark.read.parquet(path).collect() if r.id == 2]
    assert len(rows) == 1
    assert rows[0].version == 2 and rows[0].value == 21.0


def test_merge_empty_updates_is_noop(spark, tmp_path):
    path = str(tmp_path / "tbl3")
    write_partitioned(_base(spark), path, partition_cols=("day",))
    empty = spark.createDataFrame(
        [], "id LONG, day STRING, version LONG, value DOUBLE"
    )
    assert merge_upsert(path, empty, ("id",), "version", ("day",)) == 0


def test_merge_read_side_prunes_partitions(spark, tmp_path):
    # the touched-slice read must reach the scan as PartitionFilters,
    # not a post-scan Filter — at 100 TB that is the whole ballgame
    from pyspark.sql import functions as F

    path = str(tmp_path / "tbl4")
    write_partitioned(_base(spark), path, partition_cols=("day",))
    target = spark.read.parquet(path)
    pred = (F.col("day") == "a") | (F.col("day") == "b")
    plan = target.filter(pred)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    # and the pruned scan lists no pushed data filters on day (it is a
    # partition column, not a data column)
    seg = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "day" in seg


@pytest.mark.parametrize("bad_day", [None, ""], ids=["null", "empty"])
def test_merge_rejects_null_partition_values(spark, tmp_path, bad_day):
    # ADVICE r3: a NULL partition value never equi-matches during the
    # touched-partition read-back, silently disabling latest-wins for
    # that partition — reject it up front. Spark writes "" to the same
    # default-partition directory as NULL, so merging a "" row would
    # read back `day <=> ''` (missing the NULL rows there) and then
    # overwrite that directory whole: reject it too.
    path = str(tmp_path / "tbl5")
    write_partitioned(_base(spark), path, partition_cols=("day",))
    schema = "id LONG, day STRING, version LONG, value DOUBLE"
    # a row in the NULL partition, planted past merge's guard
    spark.createDataFrame([(8, None, 1, 80.0)], schema).write.mode(
        "append"
    ).partitionBy("day").parquet(path)
    updates = spark.createDataFrame([(9, bad_day, 1, 90.0)], schema)
    with pytest.raises(ValueError, match="NULL partition"):
        merge_upsert(path, updates, ("id",), "version", ("day",))
    got = {r.id: r.day for r in spark.read.parquet(path).collect()}
    assert got == {1: "a", 2: "a", 3: "b", 4: "c", 8: None}


def test_merge_detects_partition_unstable_keys(spark, tmp_path):
    # ADVICE r3: id 3 lives in day=b; an update placing it in day=a
    # would leave the stale b-row alive. Strict mode must refuse.
    import pytest

    path = str(tmp_path / "tbl6")
    write_partitioned(_base(spark), path, partition_cols=("day",))
    movers = spark.createDataFrame(
        [(3, "a", 2, 31.0)], "id LONG, day STRING, version LONG, value DOUBLE"
    )
    with pytest.raises(ValueError, match="partition-unstable"):
        merge_upsert(
            path, movers, ("id",), "version", ("day",),
            check_partition_stability=True,
        )
    # the same batch with a stable key passes the check and merges
    ok = spark.createDataFrame(
        [(2, "a", 2, 21.0)], "id LONG, day STRING, version LONG, value DOUBLE"
    )
    n = merge_upsert(
        path, ok, ("id",), "version", ("day",), check_partition_stability=True
    )
    assert n == 1
    got = {r.id: r.value for r in spark.read.parquet(path).collect()}
    assert got[2] == 21.0


def test_merge_nullsafe_predicate_still_prunes(spark, tmp_path):
    # the eqNullSafe (<=>) rewrite of the touched-partition predicate
    # must still fold into PartitionFilters — EqualNullSafe is a valid
    # partition-pruning predicate.
    from pyspark.sql import functions as F

    path = str(tmp_path / "tbl7")
    write_partitioned(_base(spark), path, partition_cols=("day",))
    target = spark.read.parquet(path)
    pred = F.col("day").eqNullSafe(F.lit("a")) | F.col("day").eqNullSafe(
        F.lit("b")
    )
    plan = target.filter(pred)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    seg = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "day" in seg, plan[:1500]


def test_merge_multi_column_partitions(spark, tmp_path):
    # two partition columns: the touched-partition predicate is a
    # disjunction of two-term conjunctions; only the exact (day, region)
    # cells present in the batch may be rewritten.
    path = str(tmp_path / "tbl8")
    base = spark.createDataFrame(
        [
            (1, "a", "eu", 1, 10.0),
            (2, "a", "us", 1, 20.0),
            (3, "b", "eu", 1, 30.0),
            (4, "b", "us", 1, 40.0),
        ],
        "id LONG, day STRING, region STRING, version LONG, value DOUBLE",
    )
    write_partitioned(base, path, partition_cols=("day", "region"))
    before_b_us = _files_mtimes(path, "day=b/region=us")
    before_a_us = _files_mtimes(path, "day=a/region=us")

    updates = spark.createDataFrame(
        [
            (1, "a", "eu", 2, 11.0),   # update cell (a, eu)
            (5, "b", "eu", 1, 50.0),   # insert into cell (b, eu)
        ],
        "id LONG, day STRING, region STRING, version LONG, value DOUBLE",
    )
    n = merge_upsert(
        path, updates, ("id",), "version", ("day", "region"),
        check_partition_stability=True,
    )
    assert n == 2
    got = {r.id: (r.day, r.region, r.version, r.value)
           for r in spark.read.parquet(path).collect()}
    assert got[1] == ("a", "eu", 2, 11.0)
    assert got[5] == ("b", "eu", 1, 50.0)
    assert got[2] == ("a", "us", 1, 20.0) and got[4] == ("b", "us", 1, 40.0)
    # cells sharing one (but not both) partition values stay untouched
    assert _files_mtimes(path, "day=b/region=us") == before_b_us
    assert _files_mtimes(path, "day=a/region=us") == before_a_us


def test_merge_detects_mover_from_null_partition(spark, tmp_path):
    # ADVICE r5: a key sitting in a NULL target partition (legacy write)
    # must still trip the stability check — the old isin() formulation
    # evaluated to NULL for such rows and silently excluded them.
    import pytest

    path = str(tmp_path / "tbl9")
    write_partitioned(_base(spark), path, partition_cols=("day",))
    legacy = spark.createDataFrame(
        [(9, None, 1, 90.0)], "id LONG, day STRING, version LONG, value DOUBLE"
    )
    # bypass merge (which rejects NULL batches) to plant a legacy row
    legacy.write.mode("append").partitionBy("day").parquet(path)
    assert any(
        r.day is None for r in spark.read.parquet(path).collect()
    ), "legacy NULL-partition row must be present"

    movers = spark.createDataFrame(
        [(9, "a", 2, 91.0)], "id LONG, day STRING, version LONG, value DOUBLE"
    )
    with pytest.raises(ValueError, match="partition-unstable"):
        merge_upsert(
            path, movers, ("id",), "version", ("day",),
            check_partition_stability=True,
        )


def test_merge_intra_batch_mover_clears_emptied_partition(spark, tmp_path):
    # ADVICE r5: id 4 is the ONLY row of day=c; a batch carrying both a
    # stale c-version and a newer d-version of it empties day=c after
    # latest-wins — the emptied directory must be deleted, not left
    # holding the stale duplicate.
    path = str(tmp_path / "tbl10")
    write_partitioned(_base(spark), path, partition_cols=("day",))
    updates = spark.createDataFrame(
        [
            (4, "c", 2, 41.0),  # touches day=c
            (4, "d", 3, 42.0),  # newer version in day=d wins
        ],
        "id LONG, day STRING, version LONG, value DOUBLE",
    )
    n = merge_upsert(path, updates, ("id",), "version", ("day",))
    assert n == 2
    rows = [r for r in spark.read.parquet(path).collect() if r.id == 4]
    assert len(rows) == 1, rows  # no stale duplicate in day=c
    assert (rows[0].day, rows[0].version, rows[0].value) == ("d", 3, 42.0)
    assert not (Path(path) / "day=c").exists()  # emptied dir cleared
    # untouched partitions survive
    got = {r.id for r in spark.read.parquet(path).collect()}
    assert got == {1, 2, 3, 4}


def test_merge_intra_batch_equal_version_duplicate_is_deterministic(
    spark, tmp_path
):
    # An at-least-once replay can carry the same key twice at the SAME
    # version in two partitions. The window tiebreak must be a pure
    # function of row values: the remaining-partitions collect and the
    # write are separate executions of the plan, and if each picked a
    # different winner the emptied-partition delete could remove the
    # directory the write populated, losing the key entirely.
    path = str(tmp_path / "tbl")
    write_partitioned(_base(spark), path, partition_cols=("day",))
    dup = [(9, "a", 5, 1.0), (9, "b", 5, 2.0)]
    updates = spark.createDataFrame(
        dup, "id LONG, day STRING, version LONG, value DOUBLE"
    )
    merge_upsert(path, updates, ("id",), "version", ("day",))
    rows = [
        r for r in spark.read.parquet(path).collect() if r.id == 9
    ]
    assert len(rows) == 1  # the key survived, exactly once
    first = (rows[0].day, rows[0].value)

    # re-merging the same batch must reproduce the same winner
    merge_upsert(path, updates, ("id",), "version", ("day",))
    rows = [
        r for r in spark.read.parquet(path).collect() if r.id == 9
    ]
    assert len(rows) == 1
    assert (rows[0].day, rows[0].value) == first


def test_merge_clears_emptied_partition_with_escaped_value(spark, tmp_path):
    # Spark escapes partition values in directory names (':' -> %3A);
    # the emptied-partition delete must use the same escaping or it
    # silently misses the directory and the stale copy survives.
    path = str(tmp_path / "tbl")
    schema = "id LONG, day STRING, version LONG, value DOUBLE"
    write_partitioned(
        spark.createDataFrame([(1, "h:m", 1, 10.0)], schema),
        path,
        partition_cols=("day",),
    )
    assert (tmp_path / "tbl" / "day=h%3Am").exists()

    # move the key out of "h:m" while touching it (row for both
    # partitions), emptying it
    updates = spark.createDataFrame(
        [(1, "x", 2, 11.0), (2, "h:m", 1, 20.0), (2, "x", 2, 21.0)], schema
    )
    merge_upsert(path, updates, ("id",), "version", ("day",))
    got = sorted(
        (r.id, r.day, r.version, r.value)
        for r in spark.read.parquet(path).collect()
    )
    assert got == [(1, "x", 2, 11.0), (2, "x", 2, 21.0)]
    assert not (tmp_path / "tbl" / "day=h%3Am").exists()


def test_merge_clears_emptied_boolean_partition(spark, tmp_path):
    # Non-string partition types: Spark renders booleans as 'true' in
    # directory names, Python str() as 'True' — the delete path must use
    # Spark's own cast-to-string rendering or it misses the directory.
    path = str(tmp_path / "tbl")
    schema = "id LONG, flag BOOLEAN, version LONG, value DOUBLE"
    write_partitioned(
        spark.createDataFrame([(1, True, 1, 10.0)], schema),
        path,
        partition_cols=("flag",),
    )
    assert (tmp_path / "tbl" / "flag=true").exists()

    updates = spark.createDataFrame(
        [(1, False, 2, 11.0), (2, True, 1, 20.0), (2, False, 2, 21.0)],
        schema,
    )
    merge_upsert(path, updates, ("id",), "version", ("flag",))
    got = sorted(
        (r.id, r.flag, r.version) for r in spark.read.parquet(path).collect()
    )
    # partition-type inference reads the boolean back as its string
    # rendering — inherent to values living in directory names, and the
    # same on a plain read of any boolean-partitioned table
    assert got == [(1, "false", 2), (2, "false", 2)]
    assert not (tmp_path / "tbl" / "flag=true").exists()


def test_merge_handles_map_typed_columns(spark, tmp_path):
    # xxhash64 rejects map columns at analysis time; the deterministic
    # tie-break must fall back to a JSON row rendering so schemas with
    # maps still merge.
    path = str(tmp_path / "tbl")
    schema = "id LONG, day STRING, version LONG, props MAP<STRING, STRING>"
    write_partitioned(
        spark.createDataFrame([(1, "a", 1, {"k": "v"})], schema),
        path,
        partition_cols=("day",),
    )
    updates = spark.createDataFrame([(1, "a", 2, {"k": "w"})], schema)
    merge_upsert(path, updates, ("id",), "version", ("day",))
    rows = spark.read.parquet(path).collect()
    assert len(rows) == 1
    assert rows[0].version == 2 and rows[0].props == {"k": "w"}


def test_merge_rejects_updates_missing_a_target_column(spark, tmp_path):
    """Rows are replaced whole — a narrower update batch would silently
    drop the column from every rewritten partition (the pre-r7 code did
    exactly that), so it must refuse instead."""
    import pytest

    path = str(tmp_path / "tbl_narrow")
    write_partitioned(_base(spark), path, partition_cols=("day",))
    narrow = spark.createDataFrame(
        [(2, "a", 2)], "id LONG, day STRING, version LONG"
    )
    with pytest.raises(ValueError, match="missing target column"):
        merge_upsert(path, narrow, ("id",), "version", ("day",))
    # nothing rewritten
    assert set(spark.read.parquet(path).columns) == {
        "id", "day", "version", "value"
    }


def test_merge_rejects_new_columns_unless_evolving(spark, tmp_path):
    import pytest

    path = str(tmp_path / "tbl_newcol")
    write_partitioned(_base(spark), path, partition_cols=("day",))
    wide = spark.createDataFrame(
        [(2, "a", 2, 21.0, "gold")],
        "id LONG, day STRING, version LONG, value DOUBLE, tier STRING",
    )
    with pytest.raises(ValueError, match="schema_evolution"):
        merge_upsert(path, wide, ("id",), "version", ("day",))


def test_merge_schema_evolution_adds_column(spark, tmp_path):
    from orionld_to_hive_spark.sources.merge import read_merged

    path = str(tmp_path / "tbl_evolve")
    write_partitioned(_base(spark), path, partition_cols=("day",))
    before_a = _files_mtimes(path, "day=a")
    wide = spark.createDataFrame(
        [(3, "b", 2, 31.0, "gold"), (5, "c", 1, 50.0, "silver")],
        "id LONG, day STRING, version LONG, value DOUBLE, tier STRING",
    )
    n = merge_upsert(
        path, wide, ("id",), "version", ("day",), schema_evolution=True
    )
    assert n == 2
    got = {
        r.id: (r.version, r.value, r.tier)
        for r in read_merged(spark, path).collect()
    }
    # update rows carry the new column
    assert got[3] == (2, 31.0, "gold") and got[5] == (1, 50.0, "silver")
    # existing rows in rewritten partitions: typed NULL (add-column)
    assert got[4] == (1, 40.0, None)
    # untouched partition: files byte-identical, NULL via mergeSchema
    assert _files_mtimes(path, "day=a") == before_a
    assert got[1] == (1, 10.0, None) and got[2] == (1, 20.0, None)
    # a SECOND merge with the evolved schema sees the union schema via
    # the mergeSchema read-back (old-footer partitions included)
    wide2 = spark.createDataFrame(
        [(4, "c", 2, 41.0, "bronze")],
        "id LONG, day STRING, version LONG, value DOUBLE, tier STRING",
    )
    merge_upsert(
        path, wide2, ("id",), "version", ("day",), schema_evolution=True
    )
    got2 = {r.id: r.tier for r in read_merged(spark, path).collect()}
    assert got2[4] == "bronze" and got2[3] == "gold"
    # once the table has the column, a batch carrying it is a plain
    # merge with no schema_evolution, although day=a (the first
    # partition, the one a plain read samples) still has the old footer
    wide3 = spark.createDataFrame(
        [(3, "b", 3, 32.0, "silver")],
        "id LONG, day STRING, version LONG, value DOUBLE, tier STRING",
    )
    merge_upsert(path, wide3, ("id",), "version", ("day",))
    got3 = {r.id: r.tier for r in read_merged(spark, path).collect()}
    assert got3[3] == "silver" and got3[4] == "bronze" and got3[1] is None


def test_merge_tombstone_deletes_key_and_replay_is_idempotent(
    spark, tmp_path
):
    path = str(tmp_path / "tbl_cdc")
    write_partitioned(_base(spark), path, partition_cols=("day",))
    before_c = _files_mtimes(path, "day=c")
    batch = spark.createDataFrame(
        [
            (1, "a", 2, None, True),   # delete id 1
            (2, "a", 2, 21.0, False),  # update id 2
            (5, "b", 1, 50.0, False),  # insert id 5
        ],
        "id LONG, day STRING, version LONG, value DOUBLE, _deleted BOOLEAN",
    )
    n = merge_upsert(
        path, batch, ("id",), "version", ("day",), delete_col="_deleted"
    )
    assert n == 2
    got = {r.id: (r.day, r.version, r.value)
           for r in spark.read.parquet(path).collect()}
    assert 1 not in got                      # deleted
    assert got[2] == ("a", 2, 21.0)          # updated
    assert got[5] == ("b", 1, 50.0)          # inserted
    assert got[3] == ("b", 1, 30.0)
    # marker column never hits disk
    assert "_deleted" not in spark.read.parquet(path).columns
    # untouched partition byte-identical
    assert _files_mtimes(path, "day=c") == before_c
    # replaying the same CDC batch converges to the same state
    merge_upsert(
        path, batch, ("id",), "version", ("day",), delete_col="_deleted"
    )
    again = {r.id: (r.day, r.version, r.value)
             for r in spark.read.parquet(path).collect()}
    assert again == got


def test_merge_tombstone_respects_version_order(spark, tmp_path):
    """A stale tombstone loses to a newer row; a newer update after a
    delete re-inserts the key — pure latest-wins, in one batch."""
    path = str(tmp_path / "tbl_cdc2")
    write_partitioned(_base(spark), path, partition_cols=("day",))
    batch = spark.createDataFrame(
        [
            (2, "a", 0, None, True),   # stale delete: existing v1 wins
            (3, "b", 2, None, True),   # delete at v2 ...
            (3, "b", 3, 31.0, False),  # ... then re-insert at v3
            (4, "c", 2, None, True),   # delete id 4 outright
        ],
        "id LONG, day STRING, version LONG, value DOUBLE, _deleted BOOLEAN",
    )
    merge_upsert(
        path, batch, ("id",), "version", ("day",), delete_col="_deleted"
    )
    got = {r.id: (r.version, r.value)
           for r in spark.read.parquet(path).collect()}
    assert got[2] == (1, 20.0)   # stale tombstone ignored
    assert got[3] == (3, 31.0)   # delete then re-insert: newest wins
    assert 4 not in got          # deleted


def test_merge_delete_empties_partition_directory(spark, tmp_path):
    """Deleting every row of a partition removes its directory (the
    emptied-partition path), so stale files never linger."""
    path = str(tmp_path / "tbl_cdc3")
    write_partitioned(_base(spark), path, partition_cols=("day",))
    batch = spark.createDataFrame(
        [(4, "c", 2, None, True)],
        "id LONG, day STRING, version LONG, value DOUBLE, _deleted BOOLEAN",
    )
    merge_upsert(
        path, batch, ("id",), "version", ("day",), delete_col="_deleted"
    )
    assert not (Path(path) / "day=c").exists()
    got = {r.id for r in spark.read.parquet(path).collect()}
    assert got == {1, 2, 3}


def test_merge_delete_col_validation(spark, tmp_path):
    import pytest

    path = str(tmp_path / "tbl_cdc4")
    write_partitioned(_base(spark), path, partition_cols=("day",))
    batch = spark.createDataFrame(
        [(1, "a", 2, None, True)],
        "id LONG, day STRING, version LONG, value DOUBLE, _deleted BOOLEAN",
    )
    with pytest.raises(ValueError, match="not a column"):
        merge_upsert(
            path, batch, ("id",), "version", ("day",), delete_col="nope"
        )
    with pytest.raises(ValueError, match="dedicated marker"):
        merge_upsert(
            path, batch, ("id",), "version", ("day",), delete_col="version"
        )


def test_delete_where_rewrites_only_matching_partitions(spark, tmp_path):
    from pyspark.sql import functions as F

    from orionld_to_hive_spark.sources.merge import delete_where

    path = str(tmp_path / "tbl_del")
    write_partitioned(_base(spark), path, partition_cols=("day",))
    before_b = _files_mtimes(path, "day=b")
    before_c = _files_mtimes(path, "day=c")
    n = delete_where(spark, path, F.col("value") < 15.0, ("day",))
    assert n == 1  # only partition a contains a match
    got = {r.id for r in spark.read.parquet(path).collect()}
    assert got == {2, 3, 4}
    # untouched partitions byte-identical
    assert _files_mtimes(path, "day=b") == before_b
    assert _files_mtimes(path, "day=c") == before_c
    # SQL-string condition and no-match fast path
    assert delete_where(spark, path, "value > 1e9", ("day",)) == 0


def test_delete_where_null_predicate_rows_are_kept(spark, tmp_path):
    from orionld_to_hive_spark.sources.merge import delete_where

    path = str(tmp_path / "tbl_del2")
    df = spark.createDataFrame(
        [(1, "a", 1, None), (2, "a", 1, 20.0)],
        "id LONG, day STRING, version LONG, value DOUBLE",
    )
    write_partitioned(df, path, partition_cols=("day",))
    delete_where(spark, path, "value > 10.0", ("day",))
    got = {r.id for r in spark.read.parquet(path).collect()}
    assert got == {1}  # NULL never affirmatively matches a DELETE


def test_delete_where_empties_whole_partition(spark, tmp_path):
    from orionld_to_hive_spark.sources.merge import delete_where

    path = str(tmp_path / "tbl_del3")
    write_partitioned(_base(spark), path, partition_cols=("day",))
    delete_where(spark, path, "day = 'c'", ("day",))
    assert not (Path(path) / "day=c").exists()
    assert {r.id for r in spark.read.parquet(path).collect()} == {1, 2, 3}


def test_purge_tombstones_bounded_by_version(spark, tmp_path):
    from orionld_to_hive_spark.sources.merge import purge_tombstones
    from orionld_to_hive_spark.streaming.cdc import StreamingCdcApplier

    path = str(tmp_path / "tbl_purge")
    schema = (
        "id LONG, day STRING, version LONG, value DOUBLE, deleted BOOLEAN"
    )
    applier = StreamingCdcApplier(
        path, ("id",), "version", ("day",), "deleted"
    )
    applier.apply_batch(
        spark.createDataFrame(
            [
                (1, "a", 5, None, True),    # old tombstone: purgeable
                (2, "a", 9, None, True),    # recent tombstone: kept
                (3, "b", 1, 30.0, False),   # live row: untouched
            ],
            schema,
        ),
        0,
    )
    n = purge_tombstones(
        spark, path, "deleted", ("day",), up_to_version=7,
        version_col="version",
    )
    assert n == 1
    raw = {r.id: bool(r.deleted) for r in spark.read.parquet(path).collect()}
    assert raw == {2: True, 3: False}  # old tombstone gone, guard kept
    import pytest

    with pytest.raises(ValueError, match="version_col"):
        purge_tombstones(spark, path, "deleted", ("day",), up_to_version=1)


def test_purge_tombstones_unbounded_requires_explicit_opt_out(
    spark, tmp_path
):
    from orionld_to_hive_spark.sources.merge import purge_tombstones
    from orionld_to_hive_spark.streaming.cdc import StreamingCdcApplier

    path = str(tmp_path / "tbl_purge_all")
    applier = StreamingCdcApplier(
        path, ("id",), "version", ("day",), "deleted"
    )
    applier.apply_batch(
        spark.createDataFrame(
            [(1, "a", 5, None, True), (2, "a", 1, 20.0, False)],
            "id LONG, day STRING, version LONG, value DOUBLE, "
            "deleted BOOLEAN",
        ),
        0,
    )
    with pytest.raises(ValueError, match="purge_all"):
        purge_tombstones(spark, path, "deleted", ("day",))
    assert purge_tombstones(
        spark, path, "deleted", ("day",), purge_all=True
    ) == 1
    assert {r.id for r in spark.read.parquet(path).collect()} == {2}


def test_purge_tombstones_on_schema_evolved_table_keeps_columns(
    spark, tmp_path
):
    from orionld_to_hive_spark.sources.merge import (
        merge_upsert,
        purge_tombstones,
        read_merged,
    )
    from orionld_to_hive_spark.streaming.cdc import StreamingCdcApplier

    path = str(tmp_path / "tbl_purge_evolved")
    applier = StreamingCdcApplier(
        path, ("id",), "version", ("day",), "deleted"
    )
    applier.apply_batch(
        spark.createDataFrame(
            [
                (1, "a", 5, None, True),    # old tombstone: purgeable
                (2, "a", 1, 20.0, False),   # live, same partition
                (3, "b", 1, 30.0, False),   # live, untouched partition
            ],
            "id LONG, day STRING, version LONG, value DOUBLE, "
            "deleted BOOLEAN",
        ),
        0,
    )
    # evolve the tombstone partition: deleted is a plain data column in
    # this merge (delete_col unset), tier is the add-column evolution
    merge_upsert(
        path,
        spark.createDataFrame(
            [(2, "a", 2, 21.0, False, "gold")],
            "id LONG, day STRING, version LONG, value DOUBLE, "
            "deleted BOOLEAN, tier STRING",
        ),
        ("id",),
        "version",
        ("day",),
        schema_evolution=True,
    )
    # the retention rewrite touches day=a (evolved files live there);
    # delete_where reads the union schema, so the copy-on-write rewrite
    # cannot sample a pre-evolution footer and drop `tier`
    n = purge_tombstones(
        spark, path, "deleted", ("day",), up_to_version=7,
        version_col="version",
    )
    assert n == 1
    got = {
        r.id: (r.value, r.tier) for r in read_merged(spark, path).collect()
    }
    assert got == {2: (21.0, "gold"), 3: (30.0, None)}


def test_update_where_modifies_only_matches_in_touched_partitions(
    spark, tmp_path
):
    from pyspark.sql import functions as F

    from orionld_to_hive_spark.sources.merge import update_where

    path = str(tmp_path / "tbl_upd")
    write_partitioned(_base(spark), path, partition_cols=("day",))
    before_c = _files_mtimes(path, "day=c")
    n = update_where(
        spark,
        path,
        F.col("value") < 25.0,
        {"value": "value * 10", "version": F.lit(2)},
        ("day",),
    )
    assert n == 1  # only partition a has matches
    got = {r.id: (r.version, r.value)
           for r in spark.read.parquet(path).collect()}
    assert got[1] == (2, 100.0) and got[2] == (2, 200.0)  # updated
    assert got[3] == (1, 30.0) and got[4] == (1, 40.0)    # untouched rows
    assert _files_mtimes(path, "day=c") == before_c       # untouched files


def test_update_where_validates_assignments(spark, tmp_path):
    import pytest

    from orionld_to_hive_spark.sources.merge import update_where

    path = str(tmp_path / "tbl_upd2")
    write_partitioned(_base(spark), path, partition_cols=("day",))
    with pytest.raises(ValueError, match="not in the table"):
        update_where(spark, path, "id = 1", {"nope": "1"}, ("day",))
    with pytest.raises(ValueError, match="partition column"):
        update_where(spark, path, "id = 1", {"day": "'z'"}, ("day",))
    # NULL-condition rows untouched; assignment cast keeps the schema
    df = spark.createDataFrame(
        [(9, "a", 1, None)],
        "id LONG, day STRING, version LONG, value DOUBLE",
    )
    from orionld_to_hive_spark.sources.merge import merge_upsert

    merge_upsert(path, df, ("id",), "version", ("day",))
    update_where(spark, path, "value > 5.0", {"version": "version + 1"},
                 ("day",))
    got = {r.id: r.version for r in spark.read.parquet(path).collect()}
    assert got[9] == 1  # NULL predicate -> unmodified
    assert got[1] == 2 and got[2] == 2  # affirmative matches bumped


def test_release_lock_spares_a_foreign_lock(spark, tmp_path):
    """Ownership-verified release: after our lock is broken and another
    writer recreates the lock file, OUR release must not evict them."""
    import time

    from orionld_to_hive_spark.sources.merge import (
        _acquire_lock,
        _release_lock,
    )

    path = str(tmp_path / "tbl_lock")
    (tmp_path / "tbl_lock").mkdir()
    fs, lock, m1 = _acquire_lock(spark, path, None)
    fs.delete(lock, False)  # simulate: someone broke our stale lock
    time.sleep(0.05)  # ensure a distinct mtime (ms resolution)
    fs2, lock2, m2 = _acquire_lock(spark, path, None)
    assert m2 != m1
    _release_lock(fs, lock, m1)  # stale owner must NOT delete it
    assert fs.exists(lock)
    _release_lock(fs2, lock2, m2)  # real owner releases normally
    assert not fs.exists(lock)


def test_merge_delete_col_refused_on_persisted_tombstone_table(
    spark, tmp_path
):
    import pytest

    from orionld_to_hive_spark.streaming.cdc import StreamingCdcApplier

    path = str(tmp_path / "tbl_persist")
    schema = (
        "id LONG, day STRING, version LONG, value DOUBLE, deleted BOOLEAN"
    )
    applier = StreamingCdcApplier(
        path, ("id",), "version", ("day",), "deleted"
    )
    applier.apply_batch(
        spark.createDataFrame([(1, "a", 1, 10.0, False)], schema), 0
    )
    batch = spark.createDataFrame([(1, "a", 2, None, True)], schema)
    with pytest.raises(ValueError, match="persisted tombstones"):
        merge_upsert(
            path, batch, ("id",), "version", ("day",), delete_col="deleted"
        )


def test_dml_on_evolved_table_keeps_evolved_column(spark, tmp_path):
    """delete_where/update_where must carry the evolved column through
    the rewrite — a plain-footer rewrite could sample a pre-evolution
    footer and drop it permanently. The evolved partition is day=b, not
    the first one, so a sampled footer would miss it."""
    from orionld_to_hive_spark.sources.merge import (
        delete_where,
        read_merged,
        update_where,
    )

    path = str(tmp_path / "tbl_evo_dml")
    write_partitioned(_base(spark), path, partition_cols=("day",))
    wide = spark.createDataFrame(
        [(3, "b", 2, 31.0, "gold"), (5, "b", 1, 50.0, "silver")],
        "id LONG, day STRING, version LONG, value DOUBLE, tier STRING",
    )
    merge_upsert(
        path, wide, ("id",), "version", ("day",), schema_evolution=True
    )
    # delete a row from the EVOLVED partition; tier must survive
    delete_where(spark, path, "id = 5", ("day",))
    got = {r.id: r.tier for r in read_merged(spark, path).collect()}
    assert 5 not in got and got[3] == "gold"
    # update the evolved partition; tier must survive that too
    update_where(spark, path, "id = 3", {"value": "value + 1"}, ("day",))
    got2 = {r.id: (r.value, r.tier) for r in read_merged(spark, path).collect()}
    assert got2[3] == (32.0, "gold")
