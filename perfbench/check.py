"""Output checks for the benchmark workloads.

Each check takes the JVM's result object and the run's directories and
returns (attempted, failed, problems, info). `problems` lists outputs that are
wrong for a reason the benchmark does not already know about; any entry
makes the run's `correct` false. `failed` counts failed operations,
known defects included.
"""
import glob
import hashlib
import json
import math
import os

import duckdb
import pyarrow.parquet as pq


def _rows(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    return pq.ParquetDataset(files).read().to_pylist()


def _digest(rows):
    """Order-independent digest: md5 over the sorted per-row md5s."""
    hs = sorted(hashlib.md5(repr(r).encode()).hexdigest() for r in rows)
    return hashlib.md5("".join(hs).encode()).hexdigest()


def _grams(text, n=5):
    toks = text.split(" ")
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def corpus(res, in_dir, pins):
    """Invariants for any seed, plus pinned digests for pinned seeds:

    - every refresh keeps at least one doc, and a share of its novel docs
      in [0.35, 0.85] (the 0.6 sample of the survivors), so a gate that
      drops everything or nothing fails;
    - survivor ids are a subset of the refresh's batch;
    - no two survivors, across all refreshes, share md5(text);
    - no survivor shares a 5-gram with the held-out set, and no exact
      copy of an earlier doc or planted contaminated doc survives;
    - with three or more refreshes, the kept counts are not all equal.
    """
    kinds = json.load(open(os.path.join(in_dir, "kinds.json")))
    held = set()
    for r in pq.read_table(os.path.join(in_dir, "heldout.parquet")).to_pylist():
        held |= _grams(r["text"])
    refreshes = [0] + [op["batch"] for op in res["ops"]]
    problems, seen, counts, digests, bad = [], {}, [], [], set()
    for b in refreshes:
        before = len(problems)
        rows = _rows(os.path.join(res["out_dir"], f"refresh{b:03d}"))
        if rows is None:
            rows = []
        k = kinds[b]
        novel = sum(1 for v in k.values() if v == "novel")
        counts.append(len(rows))
        digests.append(_digest(sorted(
            (r["doc_id"], r["text"], r["n_tokens"], r["bucket"], r["pack"],
             r["pack_pos"]) for r in rows)))
        if not 0.35 * novel <= len(rows) <= 0.85 * novel:
            problems.append(f"refresh {b}: kept {len(rows)} of {novel} novel docs")
        for r in rows:
            kind = k.get(str(r["doc_id"]))
            h = hashlib.md5(r["text"].encode()).hexdigest()
            if kind is None:
                problems.append(f"refresh {b}: survivor {r['doc_id']} not in batch")
            elif kind in ("exact_prior", "contaminated"):
                problems.append(f"refresh {b}: {kind} doc {r['doc_id']} survived")
            if h in seen:
                problems.append(f"refresh {b}: doc {r['doc_id']} repeats the text "
                                f"of doc {seen[h]}")
            seen[h] = r["doc_id"]
            if _grams(r["text"]) & held:
                problems.append(f"refresh {b}: doc {r['doc_id']} shares a held-out 5-gram")
        if len(problems) > before:
            bad.add(b)
    if len(counts) >= 3 and len(set(counts)) == 1:
        problems.append(f"every refresh kept the same count {counts[0]}")
    for b, got, want in zip(refreshes, digests, pins or []):
        if got != want:
            problems.append(f"refresh {b}: digest {got} != pinned {want}")
            bad.add(b)
    # the timed refreshes are the operations; the set-up refresh 0 is
    # checked too, and a problem there fails the run through `problems`
    failed = len(bad - {0})
    return len(res["ops"]), failed, problems[:20], {"kept": counts, "digests": digests}


def docstore(res):
    """Every response carries k rows in rank order (the server returns
    rows ordered by rank, so k rows with non-increasing scores means
    ranks 1..k), and every freshness probe finds its just-ingested doc at
    rank 1. Responses the JVM traced to the long-lived handle's stale
    chunk listing (fewer than k rows, which are the top of a freshly
    opened handle's ranking of the docs the server's handle knew, with
    ingested docs filling the rest of the fresh top k) are failures of a
    known defect; anything else is a problem."""
    ops = res["ops"]
    failed = sum(1 for o in ops if o["outcome"] != "ok")
    problems = [f"{o['op']}: {o['outcome']} {o['error'] or o['rows']}"
                for o in ops if o["outcome"] not in ("ok", "stale_handle")]
    if not any(o["kind"] == "probe" for o in ops):
        problems.append("no freshness probe ran")
    stale = sum(1 for o in ops if o["outcome"] == "stale_handle")
    # how many timed requests were sent after each ingest was searchable
    after = [sum(1 for o in ops if o["kind"] == "request" and o["sent_s"] > i["end_s"])
             for i in res["ingests"]]
    return len(ops), failed, problems[:20], {"stale_handle": stale,
                                             "requests_after_ingest": after}


def _norm_cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    return v


def _norm(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [cols[i] for i in order], out


def warehouse(res, in_dir, work_dir):
    """Each query's last written result hash-equals DuckDB running the
    library's oracle SQL over the same generated files (columns sorted by
    name, rows sorted, floats rounded to 6 places)."""
    oracle = json.load(open(os.path.join(work_dir, "oracle.json")))
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET TimeZone = 'UTC'")
    for t in glob.glob(os.path.join(in_dir, "*.parquet")):
        name = os.path.basename(t)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}')")
    problems, hashes, bad = [], {}, set()
    for name, sql in sorted(oracle.items()):
        files = sorted(glob.glob(os.path.join(res["out_dir"], name, "*.parquet")))
        if not files:
            problems.append(f"{name}: no result")
            bad.add(name)
            continue
        got = con.execute("SELECT * FROM read_parquet([" +
                          ",".join(f"'{f}'" for f in files) + "])")
        gc, gr = _norm(got.fetchall(), [d[0] for d in got.description])
        exp = con.execute(sql)
        ec, er = _norm(exp.fetchall(), [d[0] for d in exp.description])
        hg = hashlib.md5(repr((gc, gr)).encode()).hexdigest()
        he = hashlib.md5(repr((ec, er)).encode()).hexdigest()
        hashes[name] = hg
        if hg != he:
            problems.append(f"{name}: result hash {hg} != oracle {he} "
                            f"({len(gr)} vs {len(er)} rows)")
            bad.add(name)
        if not gr:
            problems.append(f"{name}: empty result")
            bad.add(name)
    # the check reads the last pass: one operation per query
    return len(oracle), len(bad), problems[:20], {"hashes": hashes}
