"""Seeded inputs, expected outputs and correctness checks for the benchmark.

Inputs are generated from the seed alone, outside any timed region, and
cached under the checkout's .bench_work/inputs/ so that a second run with
the same seed reuses them.
"""
import contextlib
import decimal
import glob
import hashlib
import json
import math
import os
import random
import re
import sys
from collections import Counter

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def md5_part(key, r):
    return int(hashlib.md5(key.encode("utf-8")).hexdigest(), 16) % r


def part_name(i):
    return f"part-{i:05d}"


# --------------------------------------------------------------------------
# mr_jobs: a text corpus sampled from the reference's input_large


def gen_corpus(spec, out, seed):
    """Samples whole lines of the reference corpus, with replacement, until
    spec["corpus_bytes"]; writes them over spec["files"] files and the
    expected part files of every job under out/expect/<op>/."""
    src = []
    for f in sorted(glob.glob(os.path.join(spec["corpus"], "*"))):
        with open(f, encoding="utf-8") as fh:
            src += fh.read().splitlines()
    bad = {c for line in src for c in line if not 32 <= ord(c) < 127}
    if bad:
        raise ValueError(f"corpus holds characters outside printable ASCII: {bad}")
    rng = random.Random(seed)
    lines, size = [], 0
    while size < spec["corpus_bytes"]:
        line = src[rng.randrange(len(src))]
        lines.append(line)
        size += len(line) + 1
    corpus = os.path.join(out, "corpus")
    os.makedirs(corpus)
    n = spec["files"]
    per = math.ceil(len(lines) / n)
    for i in range(n):
        with open(os.path.join(corpus, f"file{i:02d}"), "w", encoding="utf-8") as fh:
            fh.write("".join(l + "\n" for l in lines[i * per:(i + 1) * per]))

    r = spec["num_reducers"]
    word = spec["grep_word"]
    lower = [l.lower() for l in lines]
    # closure word count keeps empty tokens (split on single space/tab);
    # the shell pipeline's awk field loop drops them
    wc = Counter(t for l in lower for t in re.split("[ \t]", l))
    exec_wc = Counter(t for l in lower for t in l.split())
    grep = sorted(l for l, lo in zip(lines, lower) if l.strip() and word in lo)

    def write_parts(op, keyed_lines):
        parts = [[] for _ in range(r)]
        for key, line in keyed_lines:
            parts[md5_part(key, r)].append(line)
        d = os.path.join(out, "expect", op)
        os.makedirs(d)
        for i, p in enumerate(parts):
            with open(os.path.join(d, part_name(i)), "w", encoding="utf-8") as fh:
                fh.write("".join(l + "\n" for l in sorted(p)))

    write_parts("wc", ((k, f"{k}\t{c}") for k, c in wc.items()))
    write_parts("exec_wc", ((k, f"{k}\t{c}") for k, c in exec_wc.items()))
    write_parts("grep", (("1", l) for l in grep))
    write_parts("exec_grep", (("1", l) for l in grep))
    with open(os.path.join(out, "keys.txt"), "w", encoding="utf-8") as fh:
        fh.write("".join(k + "\n" for k in sorted(wc)))
    return dir_bytes(corpus)


def check_parts(out_dir, expect_dir, r, grep_job):
    """'' when out_dir holds exactly the R expected part files, else the
    first problem found, in this order: the listing, a part not sorted by
    whole line, a key in a part its md5 does not route to, content that
    differs from the tally. Word-count lines are key\tcount; a grep job's
    lines all travel under the key "1"."""
    want = [part_name(i) for i in range(r)]
    try:
        got = sorted(os.listdir(out_dir))
    except OSError as e:
        return f"no output: {e}"
    if got != want:
        return f"listing {got[:6]} != {want}"
    wrong = {}
    for i, name in enumerate(want):
        with open(os.path.join(out_dir, name), "rb") as fh:
            data = fh.read()
        with open(os.path.join(expect_dir, name), "rb") as fh:
            if data != fh.read():
                wrong[i] = data.decode("utf-8", "replace").splitlines()
    for i, lines in wrong.items():
        if lines != sorted(lines):
            return f"{part_name(i)} is not sorted"
    for i, lines in wrong.items():
        for line in lines:
            key = "1" if grep_job else line.split("\t", 1)[0]
            if md5_part(key, r) != i:
                return f"key {key!r} is in {part_name(i)}, md5 routes it to {part_name(md5_part(key, r))}"
    if wrong:
        return f"{part_name(min(wrong))} differs from the expected tally"
    return ""


# --------------------------------------------------------------------------
# query_mix: tables from tools/gen_sf.py


def gen_tables(spec, out, seed):
    """The repo's generator at spec["sf"], unchunked (chunking changes the
    RNG stream). Its progress lines go to stderr."""
    sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
    from gen_sf import gen  # noqa: E402
    os.makedirs(out)
    with contextlib.redirect_stdout(sys.stderr):
        gen(spec["sf"], out, seed=seed)
    # distinct document words: the key set for the md5 layer timing
    import duckdb
    con = duckdb.connect()
    words = con.sql(
        "SELECT DISTINCT unnest(string_split(lower(text), ' ')) AS w "
        f"FROM read_parquet('{out}/documents.parquet') ORDER BY w").fetchall()
    with open(os.path.join(os.path.dirname(out), "keys.txt"), "w", encoding="utf-8") as fh:
        fh.write("".join(w[0] + "\n" for w in words))
    return dir_bytes(out)


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float) or type(v).__name__.startswith("float"):
        f = float(v)
        if math.isnan(f):
            return None
        return int(f) if f.is_integer() else repr(f)
    if isinstance(v, bool) or type(v).__name__ == "bool_":
        return bool(v)
    if isinstance(v, int) or type(v).__name__.startswith(("int", "uint")):
        return int(v)
    if isinstance(v, decimal.Decimal):
        return int(v) if v == v.to_integral_value() else str(v.normalize())
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return sorted((str(k), _norm(x)) for k, x in v.items())
    if hasattr(v, "tolist") and not isinstance(v, str) and type(v).__name__ == "ndarray":
        return [_norm(x) for x in v.tolist()]
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def result_hash(df):
    """Canonical hash of a result, canonicalised as tools/check.py does:
    columns sorted by name, rows sorted by every column, NaN as null."""
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df) and len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    rows = [[_norm(v) for v in row] for row in df.itertuples(index=False, name=None)]
    payload = json.dumps([list(df.columns), rows], default=str, separators=(",", ":"))
    return hashlib.sha256(payload.encode()).hexdigest(), len(rows)


def oracle_hashes(data_dir, oracle_sql, cache_file):
    """DuckDB oracle results for every op, computed once per data seed."""
    cached = {}
    if os.path.exists(cache_file):
        with open(cache_file) as fh:
            cached = json.load(fh)
    missing = {k: v for k, v in oracle_sql.items() if k not in cached}
    if missing:
        import duckdb
        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        for name, sql in missing.items():
            try:
                cached[name] = [*result_hash(con.sql(sql).df()), sql]
            except Exception as e:  # noqa: BLE001 - an oracle that cannot run fails the op
                cached[name] = ["oracle error: " + str(e)[:200], -1, sql]
        with open(cache_file, "w") as fh:
            json.dump(cached, fh)
    return cached


def check_query(out_dir, expected):
    """'' when the parquet result in out_dir hashes like the oracle's."""
    import duckdb
    files = glob.glob(os.path.join(out_dir, "*.parquet"))
    if not files:
        return "no result files"
    con = duckdb.connect()
    got, rows = result_hash(con.sql(f"SELECT * FROM read_parquet({files!r})").df())
    if got != expected[0]:
        return f"result hash differs from the oracle ({rows} rows, oracle {expected[1]})"
    return ""


def dir_bytes(d):
    return sum(os.path.getsize(os.path.join(p, f)) for p, _, fs in os.walk(d) for f in fs)
