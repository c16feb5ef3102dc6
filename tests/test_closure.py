"""Golden closure-semantics matrix, ported from the reference's
TestAutoSelect (reference: tests/test_backend.py:243-335; FIXTURES.md F1-F13).
All expectations are order-insensitive row-id sets, exactly as the reference
compares CSV content as sets (tests/conftest.py:133-136)."""

import pytest
from pyspark.sql import functions as F

from xdump_spark.catalog import ForeignKey
from xdump_spark.planner.closure import compute_closure, pull_related, validate_tables

from .conftest import ids


def run(catalog, full=(), partial=None, spark=None):
    return compute_closure(catalog, full, partial or {}, spark=spark)


def seed(catalog, table, predicate):
    return catalog.tables[table].filter(predicate)


class TestAutoSelect:
    # F1: test_related_table — seed employee 1 pulls its group, not its tickets
    def test_related_table(self, spark, employees_catalog):
        out = run(employees_catalog, partial={"employees": seed(employees_catalog, "employees", "id = 1")})
        assert ids(out["employees"]) == {1}
        assert ids(out["groups"]) == {1}
        assert "tickets" not in out  # children never pulled

    # F2: test_complex_query — seeds may carry ORDER BY / LIMIT
    def test_complex_query(self, spark, employees_catalog):
        s = employees_catalog.tables["employees"].filter("id <= 1").orderBy(F.desc("id")).limit(1)
        out = run(employees_catalog, partial={"employees": s})
        assert ids(out["employees"]) == {1}
        assert ids(out["groups"]) == {1}

    # F3: test_full_tables_handling — full table complete, edges into it skipped
    def test_full_tables_handling(self, spark, employees_catalog):
        out = run(
            employees_catalog,
            full=["groups"],
            partial={"employees": seed(employees_catalog, "employees", "id = 1")},
        )
        assert ids(out["employees"]) == {1}
        assert ids(out["groups"]) == {1, 2}

    # F4: test_long_relation — 2-hop pull tickets→employees→groups
    def test_long_relation(self, spark, employees_catalog):
        out = run(employees_catalog, partial={"tickets": seed(employees_catalog, "tickets", "id = 1")})
        assert ids(out["tickets"]) == {1}
        assert ids(out["employees"]) == {1}
        assert ids(out["groups"]) == {1}

    # F5: test_related_to_full — closure also runs for full tables
    def test_related_to_full(self, spark, employees_catalog):
        out = run(employees_catalog, full=["employees"])
        assert ids(out["employees"]) == {1, 2, 3, 4, 5}
        assert ids(out["groups"]) == {1, 2}

    # F6: test_recursive_relation — manager chain via self-FK
    def test_recursive_relation(self, spark, employees_catalog):
        out = run(employees_catalog, partial={"employees": seed(employees_catalog, "employees", "id = 2")})
        assert ids(out["employees"]) == {1, 2}
        assert ids(out["groups"]) == {1}

    # F7: test_long_recursive_relation — ticket → author → manager chain
    def test_long_recursive_relation(self, spark, employees_catalog):
        out = run(employees_catalog, partial={"tickets": seed(employees_catalog, "tickets", "id = 2")})
        assert ids(out["tickets"]) == {2}
        assert ids(out["employees"]) == {1, 2}
        assert ids(out["groups"]) == {1}

    # F8: test_multiple_partials — merged selections, no duplicates
    def test_multiple_partials(self, spark, employees_catalog):
        out = run(
            employees_catalog,
            partial={
                "tickets": seed(employees_catalog, "tickets", "id = 1"),
                "employees": seed(employees_catalog, "employees", "id = 2"),
            },
        )
        assert ids(out["tickets"]) == {1}
        assert ids(out["employees"]) == {1, 2}
        assert ids(out["groups"]) == {1}
        assert out["employees"].count() == 2  # deduped

    # F9: test_multiple_partials_with_intersections — overlapping closures dedup
    def test_multiple_partials_with_intersections(self, spark, employees_catalog):
        out = run(
            employees_catalog,
            partial={
                "tickets": seed(employees_catalog, "tickets", "id = 3"),
                "employees": seed(employees_catalog, "employees", "id = 5"),
            },
        )
        assert ids(out["tickets"]) == {3}
        assert ids(out["employees"]) == {1, 2, 3, 4, 5}
        assert ids(out["groups"]) == {1, 2}
        assert out["employees"].count() == 5

    # F10: test_multiple_recursive_relations — manager AND referrer chains,
    # children (employee 2) NOT pulled
    def test_multiple_recursive_relations(self, spark, employees_catalog):
        out = run(employees_catalog, partial={"employees": seed(employees_catalog, "employees", "id = 5")})
        assert ids(out["employees"]) == {1, 3, 4, 5}
        assert ids(out["groups"]) == {1, 2}

    # F11: the reference's EMPLOYEES_SQL flagship — 2 most-recent employees
    # + transitive managers, via a SQL seed (reference: tests/conftest.py:14-29)
    def test_sql_seed_flagship(self, spark, employees_catalog):
        out = compute_closure(
            employees_catalog,
            full_tables=["groups"],
            partial_tables={
                "employees": "SELECT * FROM employees ORDER BY id DESC LIMIT 2"
            },
            spark=spark,
        )
        assert ids(out["employees"]) == {1, 3, 4, 5}
        assert ids(out["groups"]) == {1, 2}

    # F13: test_keys_intersection_error
    def test_keys_intersection_error(self, spark, employees_catalog):
        with pytest.raises(ValueError, match="must not overlap"):
            validate_tables(employees_catalog, ["employees"], {"employees": None})

    def test_unknown_table_error(self, spark, employees_catalog):
        with pytest.raises(ValueError, match="unknown tables"):
            validate_tables(employees_catalog, ["nope"], {})


def test_pull_related(spark, employees_catalog):
    # O3 standalone: the reference's get_related_data_sql semi-join
    emp = employees_catalog.tables["employees"].filter("id = 4")
    groups = pull_related(employees_catalog.tables["groups"], "id", emp, "group_id")
    assert ids(groups) == {2}


def test_null_fk_not_pulled(spark, employees_catalog):
    # employee 1 has manager_id NULL — no phantom key propagation
    out = run(employees_catalog, partial={"employees": seed(employees_catalog, "employees", "id = 1")})
    assert ids(out["employees"]) == {1}


def test_cte_seed_sql(spark, employees_catalog):
    """Seeds may be multi-CTE SQL (reference exercises CTE seeds,
    tests/test_backend.py:263-332); Spark SQL WITH covers it."""
    out = compute_closure(
        employees_catalog,
        partial_tables={
            "employees": """
                WITH top_two AS (
                  SELECT id FROM employees ORDER BY id DESC LIMIT 2
                ), picked AS (SELECT max(id) AS id FROM top_two)
                SELECT e.* FROM employees e JOIN picked p ON e.id = p.id
            """
        },
        spark=spark,
    )
    assert ids(out["employees"]) == {1, 3, 4, 5}   # 5 + mgr 3 + referrer 4, then 3→1
    assert ids(out["groups"]) == {1, 2}


class TestRecursiveCTE:
    """The WITH RECURSIVE SQL path must agree with the semi-naive loop on
    acyclic self-FK data (the reference's manager-chain golden cases,
    tests/test_backend.py:293-304,332-335)."""

    def test_manager_chain_matches_loop(self, spark, employees_catalog):
        from xdump_spark.catalog import Catalog, ForeignKey
        from xdump_spark.planner.closure import recursive_pull

        # isolate the manager_id self-FK (the reference applies its
        # template per recursive FK; single-FK catalog makes the loop
        # comparison exact)
        cat = Catalog(
            {"employees": employees_catalog.tables["employees"]},
            [ForeignKey("employees", "manager_id", "employees", "id", "fk_mgr")],
        )
        got = recursive_pull(
            spark, cat, "employees", "SELECT * FROM employees WHERE id = 5"
        )
        assert ids(got) == {5, 3, 1}  # 5 -> manager 3 -> manager 1

        loop = compute_closure(
            cat,
            partial_tables={"employees": "SELECT * FROM employees WHERE id = 5"},
            spark=spark,
        )
        assert ids(loop["employees"]) == ids(got)

    def test_both_self_fks_compound(self, spark, employees_catalog):
        from xdump_spark.planner.closure import recursive_pull

        # manager_id AND referrer_id both rewrite the seed in sequence:
        # 5 -> mgr 3 -> mgr 1; 5 -> ref 4 -> mgr 3 (reference golden
        # test_recursive_relation expects {1,3,4,5}).
        got = recursive_pull(
            spark,
            employees_catalog,
            "employees",
            "SELECT * FROM employees WHERE id = 5",
        )
        assert ids(got) == {1, 3, 4, 5}

        loop = compute_closure(
            employees_catalog,
            partial_tables={"employees": "SELECT * FROM employees WHERE id = 5"},
            spark=spark,
        )
        assert ids(loop["employees"]) == ids(got)


class TestSeedProjection:
    """Seed-shape semantics: the reference's per-table SQL unions the seed
    with full-shape related pulls, so a projected seed on a referenced
    table is a column-count error there too (xdump/base.py:142-146)."""

    def test_projected_seed_on_referenced_table_rejected(self, spark, employees_catalog):
        seed = employees_catalog.tables["employees"].select("id", "first_name")
        with pytest.raises(ValueError, match="must select all base columns"):
            compute_closure(employees_catalog, partial_tables={"employees": seed})

    def test_projected_seed_on_unreferenced_table_exports_seed_shape(
        self, spark, employees_catalog
    ):
        # tickets: leaf table — its seed rows ARE the export, shape intact
        seed = employees_catalog.tables["tickets"].select("id", "author_id").filter("id <= 2")
        out = compute_closure(employees_catalog, partial_tables={"tickets": seed})
        assert out["tickets"].columns == ["id", "author_id"]
        assert ids(out["tickets"]) == {1, 2}
        # the projection still propagates: authors of tickets 1-2 pulled
        assert ids(out["employees"]) == {1, 2}


class TestPointerDoubling:
    """recursive_ancestors_doubling: O(log depth) twin of the semi-naive
    loop for single-edge self-FK hierarchies."""

    def test_matches_seminaive_on_manager_chain(self, spark, employees_catalog):
        from xdump_spark.catalog import Catalog
        from xdump_spark.planner.closure import recursive_ancestors_doubling

        emp = employees_catalog.tables["employees"]
        sub = Catalog(
            {"employees": emp},
            [ForeignKey("employees", "manager_id", "employees", "id")],
        )
        seed = emp.filter("id = 5")
        got = recursive_ancestors_doubling(sub, "employees", seed)
        loop = compute_closure(sub, partial_tables={"employees": seed})
        assert ids(got) == ids(loop["employees"]) == {1, 3, 5}

    def test_deep_chain_in_log_rounds(self, spark):
        """A 4096-deep linked-list chain (node k -> k-1) closes in ~12
        doubling rounds — the semi-naive loop would need 4096. The round
        count is observable via max_rounds: 15 suffices, 10 must not."""
        from pyspark.sql import functions as SF

        from xdump_spark.catalog import Catalog
        from xdump_spark.planner.closure import recursive_ancestors_doubling

        n = 4096
        chain = spark.range(1, n + 1).select(
            SF.col("id").alias("node"),
            SF.when(SF.col("id") > 1, SF.col("id") - 1).alias("prev"),
        )
        sub = Catalog({"chain": chain}, [ForeignKey("chain", "prev", "chain", "node")])
        seed = chain.filter(SF.col("node") == n)
        got = recursive_ancestors_doubling(sub, "chain", seed, max_rounds=15)
        assert got.count() == n
        with pytest.raises(RuntimeError, match="did not converge"):
            recursive_ancestors_doubling(sub, "chain", seed, max_rounds=10)

    def test_cycle_terminates(self, spark):
        from pyspark.sql import functions as SF

        from xdump_spark.catalog import Catalog
        from xdump_spark.planner.closure import recursive_ancestors_doubling

        # 1 -> 2 -> 3 -> 1 cycle plus a tail 4 -> 3
        cyc = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 1), (4, 3)], "node long, nxt long"
        )
        sub = Catalog({"cyc": cyc}, [ForeignKey("cyc", "nxt", "cyc", "node")])
        got = recursive_ancestors_doubling(sub, "cyc", cyc.filter("node = 4"))
        assert ids(got, "node") == {1, 2, 3, 4}

    def test_multi_edge_rejected(self, spark, employees_catalog):
        from xdump_spark.planner.closure import recursive_ancestors_doubling

        with pytest.raises(ValueError, match="exactly one self-FK"):
            recursive_ancestors_doubling(
                employees_catalog,
                "employees",
                employees_catalog.tables["employees"].filter("id = 5"),
            )


class TestDriverFastpathLockstep:
    """The all-resident driver closure must agree with the distributed
    loop row-for-row on every golden scenario shape; the loop is forced
    by shrinking the residency bound to zero."""

    def _both(self, monkeypatch, catalog, full=(), partial=None, spark=None):
        from xdump_spark.planner import closure as C

        fast = compute_closure(catalog, full, dict(partial or {}), spark=spark)
        monkeypatch.setattr(C, "DRIVER_CLOSURE_LIMIT", 0)
        slow = compute_closure(catalog, full, dict(partial or {}), spark=spark)
        assert set(fast) == set(slow)
        for t in fast:
            key = fast[t].columns[0]
            assert ids(fast[t], key) == ids(slow[t], key), t
        return fast

    def test_merge_mixed_edges(self, monkeypatch, spark, employees_catalog):
        # two seeds, multi-hop + recursive edges — the xd_union_merge shape
        self._both(
            monkeypatch,
            employees_catalog,
            partial={
                "tickets": seed(employees_catalog, "tickets", "id = 3"),
                "employees": seed(employees_catalog, "employees", "id = 5"),
            },
        )

    def test_full_table_skip_and_propagate(self, monkeypatch, spark, employees_catalog):
        self._both(
            monkeypatch,
            employees_catalog,
            full=["employees"],
        )

    def test_full_edge_into_skipped(self, monkeypatch, spark, employees_catalog):
        self._both(
            monkeypatch,
            employees_catalog,
            full=["groups"],
            partial={"employees": seed(employees_catalog, "employees", "id = 1")},
        )

    def test_sql_seed(self, monkeypatch, spark, employees_catalog):
        self._both(
            monkeypatch,
            employees_catalog,
            partial={"employees": "SELECT * FROM employees ORDER BY id DESC LIMIT 2"},
            spark=spark,
        )

    def test_duplicate_key_rows_keep_all_edges(self, monkeypatch, spark):
        # A duplicated referenced-key value must pull EVERY matching row's
        # edges in both paths (the collected edge maps accumulate per key;
        # last-write-wins would silently under-export).
        from xdump_spark.catalog import Catalog

        nodes = spark.createDataFrame(
            # key 10 appears twice with different parents (20 and 30)
            [(10, 20), (10, 30), (20, None), (30, 40), (40, None), (50, 10)],
            "nid long, parent long",
        )
        cat = Catalog({"nodes": nodes}, [ForeignKey("nodes", "parent", "nodes", "nid")])
        out = self._both(
            monkeypatch, cat, partial={"nodes": nodes.filter("nid = 50")}
        )
        assert ids(out["nodes"], "nid") == {10, 20, 30, 40, 50}


def _cat(spark, tables, fks):
    """A catalog from ``{name: (rows, ddl)}`` and (child, col, parent, key) edges."""
    from xdump_spark.catalog import Catalog

    return Catalog(
        {n: spark.createDataFrame(rows, ddl) for n, (rows, ddl) in tables.items()},
        [ForeignKey(*fk) for fk in fks],
    )


def _hierarchy(spark, depth, tickets=20):
    """The deep-hierarchy shape: a manager chain ``emp`` of ``depth``
    levels (id i reports to i - 1) that also points at ``grp``, ``tick``
    written by its members, and unreferenced ``com`` rows on tickets;
    comment 1 hangs off a ticket of the deepest employee."""
    return _cat(
        spark,
        {
            "grp": ([(1,), (2,)], "id long"),
            "emp": ([(i, i - 1 if i > 1 else None, 1 + i % 2) for i in range(1, depth + 1)],
                    "id long, manager_id long, group_id long"),
            "tick": ([(i, depth if i == 1 else 1 + i % depth) for i in range(1, tickets + 1)],
                     "id long, author_id long"),
            "com": ([(1, 1), (2, 2)], "id long, ticket_id long"),
        },
        [("emp", "manager_id", "emp", "id"), ("emp", "group_id", "grp", "id"),
         ("tick", "author_id", "emp", "id"), ("com", "ticket_id", "tick", "id")],
    )


def _run_under_group(spark, group, fn):
    """Run ``fn`` under a job group; return its result and the job ids
    the scheduler handed out meanwhile (every job, whatever its group)."""
    sc = spark.sparkContext
    dag = sc._jsc.sc().dagScheduler()
    first = dag.nextJobId()
    sc.setJobGroup(group, f"{group} description")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(range(first, dag.nextJobId()))


def _rows(out):
    return {t: sorted(tuple(r) for r in df.collect()) for t, df in out.items()}


class TestResidency:
    """Mixed residency: with a bound of a few rows some tables saturate on
    the driver and the rest run distributed rounds; each case must match
    the all-distributed (bound 0) and the all-resident results row for
    row, with the same set of reached tables."""

    def _lockstep(self, monkeypatch, caplog, catalog, bound, full=(), partial=None):
        import logging

        from xdump_spark.planner import closure as C

        def at(limit):
            monkeypatch.setattr(C, "DRIVER_CLOSURE_LIMIT", limit)
            return _rows(compute_closure(catalog, full, dict(partial or {})))

        with caplog.at_level(logging.DEBUG, logger="xdump_spark"):
            caplog.clear()
            mixed = at(bound)
            paths = {r.getMessage().split("path=")[1].split()[0]
                     for r in caplog.records if "closure.residency" in r.getMessage()}
        assert paths == {"resident", "distributed"}   # the case really mixes
        assert mixed == at(0)
        assert mixed == at(1_000_000)
        return mixed

    def test_edges_cross_both_ways(self, monkeypatch, caplog, spark):
        # a (6 rows, oversized) ⇄ b (3 rows, resident): a1 → b10 → a2 → b20 → a5 → b30
        cat = _cat(
            spark,
            {"a": ([(1, 10), (2, 20), (3, None), (4, 10), (5, 30), (6, 40)], "id long, b_id long"),
             "b": ([(10, 2), (20, 5), (30, None)], "id long, a_id long")},
            [("a", "b_id", "b", "id"), ("b", "a_id", "a", "id")],
        )
        out = self._lockstep(monkeypatch, caplog, cat, 3,
                             partial={"a": cat.tables["a"].filter("id = 1")})
        assert {r[0] for r in out["a"]} == {1, 2, 5}
        assert {r[0] for r in out["b"]} == {10, 20, 30}

    def test_self_fk_cycle_in_resident_table(self, monkeypatch, caplog, spark):
        # string keys: e1 → e2 → e3 → e1
        cat = _cat(
            spark,
            {"emp": ([("e1", "e2"), ("e2", "e3"), ("e3", "e1"), ("e4", None)],
                     "id string, manager_id string"),
             "tick": ([(i, [None, "e1", "e4", "e2", "e4", "e1"][i - 1]) for i in range(1, 7)],
                      "id long, author_id string"),
             "com": ([(1, 2), (2, 3)], "id long, ticket_id long")},
            [("emp", "manager_id", "emp", "id"), ("tick", "author_id", "emp", "id"),
             ("com", "ticket_id", "tick", "id")],
        )
        out = self._lockstep(monkeypatch, caplog, cat, 4,
                             partial={"com": cat.tables["com"].filter("id = 1")})
        assert {r[0] for r in out["emp"]} == {"e1", "e2", "e3"}

    def test_deep_resident_chain_under_oversized_table(self, monkeypatch, caplog, spark):
        cat = _hierarchy(spark, depth=10)
        out = self._lockstep(monkeypatch, caplog, cat, 10,
                             partial={"com": cat.tables["com"].filter("id = 1")})
        assert {r[0] for r in out["emp"]} == set(range(1, 11))

    def test_null_duplicate_and_dangling_values(self, monkeypatch, caplog, spark):
        # nodes: key 10 twice (both rows' parents count); refs: null FKs,
        # dangling 99; the only value refs sends to tags dangles (999),
        # so tags is reached with no rows on every path.
        cat = _cat(
            spark,
            {"nodes": ([(10, 20), (10, 30), (20, None), (30, 40), (40, None)],
                       "nid long, parent long"),
             "refs": ([(1, 10, None), (2, None, 999), (3, 99, None), (4, None, 1),
                       (5, 10, 1), (6, 77, 2), (7, 40, 2)], "rid long, node long, tag long"),
             "tags": ([(1,), (2,)], "id long"),
             "src": ([(1, 1), (2, 2), (3, 3), (4, None)], "sid long, ref long")},
            [("nodes", "parent", "nodes", "nid"), ("refs", "node", "nodes", "nid"),
             ("refs", "tag", "tags", "id"), ("src", "ref", "refs", "rid")],
        )
        out = self._lockstep(monkeypatch, caplog, cat, 5, partial={"src": cat.tables["src"]})
        assert {r[0] for r in out["nodes"]} == {10, 20, 30, 40}
        assert {r[0] for r in out["refs"]} == {1, 2, 3}
        assert out["tags"] == []

    def test_oversized_seed_table_and_full_table(self, monkeypatch, caplog, spark,
                                                 employees_catalog):
        # bound 4: employees (5 rows, seeded) and the full tickets table
        # are oversized, groups stays resident
        self._lockstep(monkeypatch, caplog, employees_catalog, 4, full=["tickets"],
                       partial={"employees": seed(employees_catalog, "employees", "id = 5")})
        # a small full table feeding an oversized one, no seeds
        cat = _cat(
            spark,
            {"f": ([(1, 2), (2, None)], "fid long, a_id long"),
             "a": ([(i, i - 1 if i > 1 else None) for i in range(1, 7)], "id long, up long")},
            [("f", "a_id", "a", "id"), ("a", "up", "a", "id")],
        )
        out = self._lockstep(monkeypatch, caplog, cat, 3, full=["f"])
        assert {r[0] for r in out["a"]} == {1, 2}

    def test_job_count_independent_of_resident_depth(self, monkeypatch, spark):
        from xdump_spark.planner import closure as C

        monkeypatch.setattr(C, "DRIVER_CLOSURE_LIMIT", 12)   # tick (20 rows) oversized
        counts = []
        for depth in (4, 12):
            cat = _hierarchy(spark, depth)
            out, jobs = _run_under_group(
                spark, f"closure-depth-{depth}",
                lambda: compute_closure(cat, (), {"com": cat.tables["com"].filter("id = 1")}),
            )
            assert ids(out["emp"]) == set(range(1, depth + 1))
            tracker = spark.sparkContext.statusTracker()
            assert sorted(tracker.getJobIdsForGroup(f"closure-depth-{depth}")) == jobs
            counts.append(len(jobs))
        assert counts[0] == counts[1] > 0

    def test_jobs_keep_callers_description(self, monkeypatch, spark, employees_catalog):
        # bound 4: employees (5 rows) runs distributed rounds while groups
        # is resident, so a round overlaps an advance and a boundary collect
        from xdump_spark.planner import closure as C

        monkeypatch.setattr(C, "DRIVER_CLOSURE_LIMIT", 4)
        _, jobs = _run_under_group(
            spark, "closure-props",
            lambda: compute_closure(
                employees_catalog, (), {"tickets": seed(employees_catalog, "tickets", "id = 3")}
            ),
        )
        store = spark.sparkContext._jsc.sc().statusStore()
        descs = [store.job(j).description() for j in jobs]
        assert jobs and all(
            d.isDefined() and d.get() == "closure-props description" for d in descs
        )

    def test_decisions_logged(self, monkeypatch, caplog, spark, employees_catalog):
        import logging

        from xdump_spark.planner import closure as C

        monkeypatch.setattr(C, "DRIVER_CLOSURE_LIMIT", 4)
        with caplog.at_level(logging.DEBUG, logger="xdump_spark"):
            compute_closure(
                employees_catalog, (), {"tickets": seed(employees_catalog, "tickets", "id = 3")}
            )
        got = sorted(r.getMessage() for r in caplog.records if r.levelno == logging.DEBUG
                     and r.getMessage().startswith("decision closure.residency"))
        assert got == [
            "decision closure.residency table=employees path=distributed bound=4 rows=5",
            "decision closure.residency table=groups path=resident bound=4 rows=2",
            "decision closure.residency table=tickets path=resident bound=4 rows=1",
        ]
