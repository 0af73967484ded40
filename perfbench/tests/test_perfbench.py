"""Tests of the benchmark itself: the generators are deterministic per seed,
and every output check rejects a deliberately corrupted output.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import subprocess
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, os.path.dirname(BENCH))
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import workloads  # noqa: E402


def _frames_equal(a: dict, b: dict) -> bool:
    return a.keys() == b.keys() and all(a[k].equals(b[k]) for k in a)


# --- generators ----------------------------------------------------------


def test_dumps_deterministic_per_seed():
    assert gen.make_dumps(7) == gen.make_dumps(7)
    assert gen.make_dumps(7) != gen.make_dumps(8)


def test_dump_sizes_do_not_depend_on_seed():
    for seed in (1, 2):
        assert [m["tables"] for _, m in gen.make_dumps(seed)] == list(gen.DUMP_SIZES)


def test_tables_deterministic_per_seed():
    assert _frames_equal(gen.database(3), gen.database(3))
    assert not _frames_equal(gen.database(3), gen.database(4))
    assert _frames_equal(gen.tpch_tables(3, gen.SMALL), gen.tpch_tables(3, gen.SMALL))
    sizes = {k: len(v) for k, v in gen.database(3).items()}
    assert sizes == {k: len(v) for k, v in gen.database(4).items()}


def test_drift_deterministic_and_matches_its_manifest():
    db = gen.database(5)
    a, flags_a = gen.drift(5, db)
    b, flags_b = gen.drift(5, db)
    assert _frames_equal(a, b) and flags_a == flags_b
    # recount the drift independently: outer merge on the key, compare rows
    for name, keys in gen.DB_KEYS.items():
        if not keys:
            continue
        m = db[name].merge(a[name], on=keys, how="outer", indicator=True, suffixes=("_o", "_n"))
        both = m[m["_merge"] == "both"]
        cols = [c for c in db[name].columns if c not in keys]
        same = pd.Series(True, index=both.index)
        for c in cols:
            o, n = both[f"{c}_o"], both[f"{c}_n"]
            same &= (o == n) | (o.isna() & n.isna())
        got = dict(new=int((m["_merge"] == "right_only").sum()),
                   deleted=int((m["_merge"] == "left_only").sum()),
                   changed=int((~same).sum()), identical=int(same.sum()))
        assert got == flags_a[name], name


# --- output checks -------------------------------------------------------


@pytest.fixture(scope="module")
def converted():
    from sqlserver2pgsql_spark.catalog.conflicts import resolve_name_conflicts
    from sqlserver2pgsql_spark.ddl import parse_text
    from sqlserver2pgsql_spark.ddl.emit_pg import emit_after, emit_before, emit_unsure
    from sqlserver2pgsql_spark.plans.transfer import build_transfer_plans

    text, manifest = gen.make_dumps(11)[6]
    cat = parse_text(text)
    renames = resolve_name_conflicts(cat)
    scripts = (emit_before(cat), emit_after(cat), emit_unsure(cat))
    return manifest, cat, renames, scripts, build_transfer_plans(cat, incremental=True)


def test_convert_check_accepts_program_output(converted):
    assert workloads.convert_matches(*converted)


def test_convert_check_rejects_a_dropped_statement(converted):
    m, cat, renames, (before, after, unsure), plans = converted
    lines = after.splitlines()
    i = next(k for k, line in enumerate(lines) if " FOREIGN KEY (" in line)
    after = "\n".join(lines[:i] + lines[i + 1:])
    assert not workloads.convert_matches(m, cat, renames, (before, after, unsure), plans)


def test_convert_check_rejects_a_missing_plan(converted):
    m, cat, renames, scripts, plans = converted
    assert not workloads.convert_matches(m, cat, renames, scripts, plans[1:])


def test_digest_is_order_insensitive_and_catches_corruption():
    tbl = gen.to_arrow(gen.database(2)["tm_accounts"])
    ref = workloads.digest(tbl)
    assert workloads.digest(tbl.take(list(range(tbl.num_rows))[::-1])) == ref
    assert workloads.digest(tbl.slice(1)) != ref
    names = tbl.column("name").to_pylist()
    k = next(i for i, v in enumerate(names) if v)
    names[k] = names[k] + "x"
    bad = tbl.set_column(tbl.column_names.index("name"), "name", pa.array(names))
    assert workloads.digest(bad)[0] == ref[0] and workloads.digest(bad) != ref


def test_cleanse_expectation_strips_nul_only():
    tbl = pa.table({"s": ["a\x00b", None, ""], "n": [1, 2, 3]})
    assert workloads._cleanse(tbl).to_pydict() == {"s": ["ab", None, ""], "n": [1, 2, 3]}


def test_query_comparator_catches_a_changed_value():
    norm = workloads._load_check_correctness()._normalize
    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    assert workloads.results_match(a, a.iloc[::-1].copy(), norm)
    b = a.copy()
    b.loc[1, "v"] = 1.25
    assert not workloads.results_match(a, b, norm)
    assert not workloads.results_match(a, a.iloc[:2], norm)
    assert not workloads.results_match(a, a.astype({"k": "float64"}), norm)


# --- process hygiene -----------------------------------------------------


def test_end_children_ends_orphaned_descendants():
    # in a process of its own, so the subreaper setting stays out of pytest's
    script = (
        "import subprocess, time, run\n"
        "run._adopt_orphans()\n"
        "subprocess.run(['sh', '-c', 'sleep 60 & exit 0'], check=True)\n"
        "assert run._descendants(), 'the orphaned sleep was not adopted'\n"
        "t = time.monotonic()\n"
        "run._end_children(timeout=0.5)\n"
        "print(len(run._descendants()), round(time.monotonic() - t))\n"
    )
    out = subprocess.run([sys.executable, "-c", script], cwd=BENCH, capture_output=True,
                         text=True, timeout=60, check=True)
    left, seconds = out.stdout.split()
    assert left == "0" and int(seconds) < 10


@pytest.fixture(scope="module")
def spark():
    from sqlserver2pgsql_spark.session import get_spark

    return get_spark("perfbench-tests")


def test_sync_checks_catch_corrupted_target_and_flags(spark, tmp_path):
    wl = workloads.Sync(5, str(tmp_path), spark)
    wl.prepare()
    wl.before_pass()
    ops = {name: fn for name, fn, _ in wl.ops()}
    assert wl.check_once(["orders", "tm_audit"]) == set()
    result = ops["orders"](None)
    assert wl.check("orders", result)

    # one changed value in the synced target
    path = os.path.join(wl.tgt_root, "public", "orders.parquet")
    tbl = pq.read_table(path)
    price = tbl.column("o_totalprice").to_pylist()
    price[0] += 1.0
    tbl = tbl.set_column(tbl.column_names.index("o_totalprice"), "o_totalprice", pa.array(price))
    for f in os.listdir(path):
        os.remove(os.path.join(path, f))
    pq.write_table(tbl, os.path.join(path, "part-00000.parquet"))
    assert not wl.check("orders", result)

    # diff flag counts that disagree with the seeded drift
    wl.before_pass()
    wl.flags["orders"] = dict(wl.flags["orders"], changed=wl.flags["orders"]["changed"] + 1)
    assert wl.check_once(["orders", "lineitem", "tm_audit"]) == {"orders"}
