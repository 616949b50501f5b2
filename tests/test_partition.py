"""Table partitioning: PARTITION BY RANGE / HASH / LIST DDL, partition
selection, static pruning, and ALTER partition maintenance.

Reference: partition model parser/model/model.go:820-822, DDL checks
ddl/partition.go (strictly-increasing RANGE bounds; "Table has no
partition for value" on unmatched rows), planner static pruning
planner/core/rule_partition_processor.go.  Spark mapping: a hidden
``__part`` label column + directory partitioning, so partition selection
is native parquet partition pruning (PartitionFilters)."""

import os

import pytest

from tidb_spark.sqlshim import partition as pt


def scanned_files(df) -> int:
    """Actual parquet files the executed plan read (the scan's numFiles
    metric) — ``inputFiles()`` lists the relation BEFORE partition pruning,
    so it can't prove pruning happened."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    leaves = plan.collectLeaves()
    total = 0
    for i in range(leaves.size()):
        m = leaves.apply(i).metrics()
        if m.contains("numFiles"):
            total += m.apply("numFiles").value()
    return total


def test_range_partition_lifecycle(engine):
    engine.sql(
        "CREATE TABLE pr (id BIGINT PRIMARY KEY, amt INT) "
        "PARTITION BY RANGE (amt) ("
        "PARTITION p0 VALUES LESS THAN (10), "
        "PARTITION p1 VALUES LESS THAN (20), "
        "PARTITION pmax VALUES LESS THAN MAXVALUE)"
    )
    engine.sql("INSERT INTO pr VALUES (1,5),(2,15),(3,25),(4,NULL)")
    mt = engine.managed["pr"]
    assert mt.partitions() == ["p0", "p1", "pmax"]

    # Hidden label column stays hidden from reads …
    assert engine.sql("SELECT * FROM pr").columns == ["id", "amt"]
    # … but lands as directory partitioning on disk.
    vdir = mt._path(mt._version)  # noqa: SLF001
    dirs = {d for d in os.listdir(vdir) if d.startswith(pt.PART_COL)}
    assert dirs == {
        f"{pt.PART_COL}=p0",
        f"{pt.PART_COL}=p1",
        f"{pt.PART_COL}=pmax",
    }

    # NULL routes to the lowest partition (MySQL RANGE semantics).
    got = {r.id for r in mt.scan_partitions(["p0"]).collect()}
    assert got == {1, 4}

    # Explicit partition selection syntax.
    rows = engine.sql("SELECT id FROM pr PARTITION (p1, pmax) ORDER BY id")
    assert [r.id for r in rows.collect()] == [2, 3]

    # SHOW CREATE TABLE round-trips the clause back through the parser.
    ddl = engine.show_create_table("pr")
    assert "PARTITION BY RANGE (amt)" in ddl
    from tidb_spark.sqlshim import create_table as ct

    spec2 = ct.parse(ddl.replace("`pr`", "`pr2`")).partition_spec
    assert spec2.ddl() == mt.partition_spec.ddl()


def test_range_no_partition_for_value_errors(engine):
    engine.sql(
        "CREATE TABLE prx (id BIGINT PRIMARY KEY, amt INT) "
        "PARTITION BY RANGE (amt) (PARTITION p0 VALUES LESS THAN (10))"
    )
    with pytest.raises(Exception, match="no partition for value"):
        engine.sql("INSERT INTO prx VALUES (1, 50)")


def test_static_where_pruning_scans_fewer_files(engine):
    engine.sql(
        "CREATE TABLE pw (id BIGINT PRIMARY KEY, amt INT) "
        "PARTITION BY RANGE (amt) ("
        "PARTITION p0 VALUES LESS THAN (10), "
        "PARTITION p1 VALUES LESS THAN (20), "
        "PARTITION pmax VALUES LESS THAN MAXVALUE)"
    )
    engine.sql("INSERT INTO pw VALUES (1,5),(2,15),(3,25)")

    pruned = engine.sql("SELECT id FROM pw WHERE amt < 10")
    assert [r.id for r in pruned.collect()] == [1]
    full = engine.managed["pw"].df()
    # The pruned plan reads strictly fewer parquet files than a full scan,
    # and the scan carries a PartitionFilters entry on the label column.
    assert scanned_files(pruned) < scanned_files(full)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and pt.PART_COL in plan

    # BETWEEN intersects; IN unions; OR disables pruning (still correct).
    assert {
        r.id for r in engine.sql(
            "SELECT id FROM pw WHERE amt BETWEEN 12 AND 30"
        ).collect()
    } == {2, 3}
    assert {
        r.id for r in engine.sql(
            "SELECT id FROM pw WHERE amt IN (5, 25)"
        ).collect()
    } == {1, 3}
    assert {
        r.id for r in engine.sql(
            "SELECT id FROM pw WHERE amt < 10 OR amt > 20"
        ).collect()
    } == {1, 3}


def test_hash_partition_routing_and_prune(engine):
    engine.sql(
        "CREATE TABLE ph (id BIGINT PRIMARY KEY, v INT) "
        "PARTITION BY HASH (id) PARTITIONS 4"
    )
    engine.sql("INSERT INTO ph VALUES (0,0),(1,1),(2,2),(5,5),(6,6)")
    mt = engine.managed["ph"]
    assert mt.partitions() == ["p0", "p1", "p2", "p3"]
    assert {r.id for r in mt.scan_partitions(["p1"]).collect()} == {1, 5}
    # Equality on the hash column prunes to one directory.
    q = engine.sql("SELECT id FROM ph WHERE id = 5")
    assert [r.id for r in q.collect()] == [5]
    assert scanned_files(q) < scanned_files(mt.df())


def test_list_partition_and_alter_maintenance(engine):
    engine.sql(
        "CREATE TABLE pl (id BIGINT PRIMARY KEY, region INT) "
        "PARTITION BY LIST (region) ("
        "PARTITION pa VALUES IN (1, 2), "
        "PARTITION pb VALUES IN (3))"
    )
    engine.sql("INSERT INTO pl VALUES (1,1),(2,2),(3,3)")
    with pytest.raises(Exception, match="no partition for value"):
        engine.sql("INSERT INTO pl VALUES (9, 9)")

    # ADD PARTITION extends the value map; duplicate constants rejected.
    engine.sql(
        "ALTER TABLE pl ADD PARTITION (PARTITION pc VALUES IN (9))"
    )
    engine.sql("INSERT INTO pl VALUES (9, 9)")
    with pytest.raises(ValueError, match="same constant"):
        engine.sql(
            "ALTER TABLE pl ADD PARTITION (PARTITION pd VALUES IN (3))"
        )

    # DROP PARTITION removes definition AND rows.
    engine.sql("ALTER TABLE pl DROP PARTITION pb")
    assert engine.managed["pl"].partitions() == ["pa", "pc"]
    assert {r.id for r in engine.sql("SELECT id FROM pl").collect()} == {1, 2, 9}

    # TRUNCATE PARTITION empties but keeps the definition.
    engine.sql("ALTER TABLE pl TRUNCATE PARTITION pa")
    assert engine.managed["pl"].partitions() == ["pa", "pc"]
    assert {r.id for r in engine.sql("SELECT id FROM pl").collect()} == {9}
    engine.sql("INSERT INTO pl VALUES (10, 1)")
    assert {r.id for r in engine.sql("SELECT id FROM pl").collect()} == {9, 10}


def test_alter_range_add_partition_rules(engine):
    engine.sql(
        "CREATE TABLE pr2 (id BIGINT PRIMARY KEY, amt INT) "
        "PARTITION BY RANGE (amt) (PARTITION p0 VALUES LESS THAN (10))"
    )
    # Bounds must strictly increase (ddl/partition.go).
    with pytest.raises(ValueError, match="strictly increasing"):
        engine.sql(
            "ALTER TABLE pr2 ADD PARTITION (PARTITION px VALUES LESS THAN (5))"
        )
    engine.sql(
        "ALTER TABLE pr2 ADD PARTITION ("
        "PARTITION p1 VALUES LESS THAN (20), "
        "PARTITION pmax VALUES LESS THAN MAXVALUE)"
    )
    engine.sql("INSERT INTO pr2 VALUES (1, 15), (2, 100)")
    assert engine.managed["pr2"].partitions() == ["p0", "p1", "pmax"]
    # Nothing can follow MAXVALUE.
    with pytest.raises(ValueError, match="strictly increasing"):
        engine.sql(
            "ALTER TABLE pr2 ADD PARTITION (PARTITION py VALUES LESS THAN (500))"
        )
    # DROP on HASH is rejected, matching the reference's restriction.
    engine.sql(
        "CREATE TABLE ph2 (id BIGINT PRIMARY KEY) "
        "PARTITION BY HASH (id) PARTITIONS 2"
    )
    engine.sql("INSERT INTO ph2 VALUES (1),(2)")
    with pytest.raises(ValueError, match="RANGE/LIST"):
        engine.sql("ALTER TABLE ph2 DROP PARTITION p0")


def test_partitioned_dml_keeps_labels_consistent(engine):
    """UPDATE moving a row across partition boundaries must re-route it:
    labels are recomputed on every copy-on-write version."""
    engine.sql(
        "CREATE TABLE pm (id BIGINT PRIMARY KEY, amt INT) "
        "PARTITION BY RANGE (amt) ("
        "PARTITION p0 VALUES LESS THAN (10), "
        "PARTITION p1 VALUES LESS THAN (MAXVALUE))"
    )
    engine.sql("INSERT INTO pm VALUES (1,5),(2,15)")
    engine.sql("UPDATE pm SET amt = 12 WHERE id = 1")
    mt = engine.managed["pm"]
    assert {r.id for r in mt.scan_partitions(["p0"]).collect()} == set()
    assert {r.id for r in mt.scan_partitions(["p1"]).collect()} == {1, 2}
