#!/usr/bin/env python3
"""Self-test of the benchmark at tiny scale.

    python3 perfbench/selftest.py

Run it from the root of a checkout. It runs each workload once untraced and
twice traced on a shrunken spec (one set-up, a one-second timed phase, a
small corpus), and asserts that:
  - every end-to-end and per-layer metric is present, with its unit;
  - every op passed its output check;
  - the exact-repeat counters agree between the two traced runs;
  - the output checks count corrupted outputs as failures: two lines
    swapped in a part file, a key moved to the wrong part, a count changed,
    a part file missing, and a query result with a row changed.
"""
import copy
import json
import os
import shutil
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import inputs  # noqa: E402
import run  # noqa: E402

SEED = 7


def tiny_spec():
    spec = copy.deepcopy(run.load_spec())
    spec["setups"] = 1
    spec["workloads"]["mr_jobs"]["corpus_bytes"] = 300_000
    return spec


def check_metrics(out, names):
    assert out["correct"] and out["failed"] == 0, out
    assert out["attempted"] >= 1, out
    got = out["metrics"]
    assert set(got) == {n for n, _ in names}, sorted(set(got) ^ {n for n, _ in names})
    for name, unit in names:
        assert got[name]["unit"] == unit, (name, got[name])
        assert isinstance(got[name]["value"], (int, float)), (name, got[name])


def corrupt_parts(root, r, scratch):
    """Each corruption of a valid word-count output must fail its check."""
    expect = os.path.join(root, "expect", "wc")
    cases = {}

    def fresh(name):
        d = os.path.join(scratch, name)
        shutil.copytree(expect, d)
        return d

    def lines(d, i):
        with open(os.path.join(d, inputs.part_name(i))) as fh:
            return fh.read().splitlines()

    def write(d, i, ls):
        with open(os.path.join(d, inputs.part_name(i)), "w") as fh:
            fh.write("".join(x + "\n" for x in ls))

    assert inputs.check_parts(fresh("valid"), expect, r, grep_job=False) == ""

    d = fresh("swapped")
    ls = lines(d, 0)
    ls[0], ls[1] = ls[1], ls[0]
    write(d, 0, ls)
    cases["swapped"] = (d, "not sorted")

    d = fresh("misrouted")
    moved = lines(d, 0)
    write(d, 0, moved[1:])
    write(d, 1, sorted(lines(d, 1) + moved[:1]))
    cases["misrouted"] = (d, "md5 routes it")

    d = fresh("miscounted")
    ls = lines(d, 2)
    key, count = ls[-1].split("\t")
    ls[-1] = f"{key}\t{int(count) + 1}"
    write(d, 2, ls)
    cases["miscounted"] = (d, "expected tally")

    d = fresh("missing")
    os.remove(os.path.join(d, inputs.part_name(r - 1)))
    cases["missing"] = (d, "listing")

    for name, (d, want) in cases.items():
        err = inputs.check_parts(d, expect, r, grep_job=False)
        assert want in err, (name, err)

    # the same outputs, seen through the run's failure count
    result = {"setups": [{"name": name, "ops": [{"name": "wc", "error": "", "out": d}]}
                         for name, (d, _) in cases.items()],
              "timed": [], "untraced": []}
    spec = tiny_spec()["workloads"]["mr_jobs"]
    assert len(run.check_ops(spec, root, result)) == len(cases)


def corrupt_query(root, scratch):
    """A query result with one value changed must fail the oracle check."""
    import duckdb
    with open(os.path.join(root, "oracle.json")) as fh:
        oracle = json.load(fh)
    name, (_, _, sql) = next((k, v) for k, v in sorted(oracle.items()) if v[1] > 1)
    con = duckdb.connect()
    for t in inputs.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{root}/data/{t}.parquet')")
    good = os.path.join(scratch, "good")
    bad = os.path.join(scratch, "bad")
    os.makedirs(good)
    os.makedirs(bad)
    df = con.sql(sql).df()
    con.sql(f"COPY (SELECT * FROM df) TO '{good}/part-0.parquet' (FORMAT parquet)")
    assert inputs.check_query(good, oracle[name]) == "", name
    col = df.columns[0]
    df.loc[0, col] = df.loc[1, col]
    con.sql(f"COPY (SELECT * FROM df) TO '{bad}/part-0.parquet' (FORMAT parquet)")
    assert "differs from the oracle" in inputs.check_query(bad, oracle[name]), name


def main():
    spec = tiny_spec()
    scratch = os.path.join(run.WORK_DIR, "selftest")
    shutil.rmtree(scratch, ignore_errors=True)
    for workload in spec["workloads"]:
        out = run.bench(workload, SEED, 1, 0, spec)
        check_metrics(out, run.END_TO_END)
        traced = [run.bench(workload, SEED, 1, 1, spec) for _ in range(2)]
        for t in traced:
            check_metrics(t, run.PER_LAYER)
        for k in run.REPEAT:
            a, b = (t["metrics"][k]["value"] for t in traced)
            assert a == b, f"{workload}: {k} was {a}, then {b}"
        run.log(f"selftest: {workload} metrics, checks and exact repeat ok")

    wl = spec["workloads"]
    roots = {w: run.input_root(w, wl[w], SEED) for w in wl}
    corrupt_parts(roots["mr_jobs"], wl["mr_jobs"]["num_reducers"], os.path.join(scratch, "parts"))
    corrupt_query(roots["query_mix"], os.path.join(scratch, "query"))
    shutil.rmtree(scratch, ignore_errors=True)
    run.log("selftest: corrupted outputs are counted as failures")
    print("selftest ok")


if __name__ == "__main__":
    main()
