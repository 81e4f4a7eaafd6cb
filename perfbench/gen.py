"""Seeded input generator for the benchmark workloads.

Every table is a pure function of (workload, seed, size): the same
arguments always give byte-identical rows. Outputs are cached under the
checkout's `.perfbench/cache/<workload>-s<seed>-<size>/` (git-ignored),
so repeated runs of one seed skip generation. Nothing here reads or
writes any other data directory.

Text follows the single-lexicon rule the library's scale harnesses use:
content words carry a replica suffix (`scan_r17`), while the language
marker `the` and the stopword `a` are never suffixed — the langid and
quality gates key on those exact words, and suffixing them would make
the gates drop every generated document.
"""
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the library fixtures' content lexicon; the replica suffix multiplies it
BASE_WORDS = (
    "key agg row scan slow fast table value part hash merge batch spark "
    "line sort window order data column join small customer query big "
    "group stream filter vector"
).split()
MARKER, STOPWORD = "the", "a"
VERSION = 2  # bump when a generator's output changes


def _vocab(n_replicas):
    return np.array([f"{w}_r{j}" for j in range(n_replicas) for w in BASE_WORDS])


def _text(rng, vocab, n_words):
    """A document: content words with the marker and stopword mixed in
    (about one token in five), so langid says `en` and quality passes."""
    words = vocab[rng.integers(0, len(vocab), n_words)].astype(object)
    glue = rng.random(n_words)
    words[glue < 0.12] = MARKER
    words[(glue >= 0.12) & (glue < 0.2)] = STOPWORD
    words[0] = MARKER
    return " ".join(words)


def _mutate(rng, vocab, text, n_changes):
    words = text.split(" ")
    for i in rng.choice(np.arange(1, len(words)), n_changes, replace=False):
        words[i] = vocab[rng.integers(0, len(vocab))]
    return " ".join(words)


def _cache_dir(root, workload, seed, size):
    return os.path.join(root, "cache", f"{workload}-s{seed}-{size}-v{VERSION}")


def _done(path):
    return os.path.exists(os.path.join(path, "_DONE"))


def _finish(tmp, path, meta):
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


# --------------------------------------------------------------------------
# corpus-refresh: daily document batches with planted duplicates
# --------------------------------------------------------------------------

CORPUS_SHARES = {  # share of each batch, by kind
    "novel": 0.62, "exact_prior": 0.12, "near_prior": 0.12,
    "exact_in_batch": 0.06, "contaminated": 0.08,
}


def corpus(root, seed, batch_docs, n_batches):
    """`n_batches` refresh batches of `batch_docs` docs each plus a
    held-out set. Batch b's ids live in [b*10^6, b*10^6 + batch_docs).
    Kinds: novel text; exact copies and 3-word edits of EARLIER
    batches' novel docs (the history gates must drop them); in-batch
    exact copies (in-batch canonicalization keeps the smallest id);
    novel docs with a held-out 5-gram spliced in (decontamination must
    drop them)."""
    size = f"{batch_docs}x{n_batches}"
    path = _cache_dir(root, "corpus", seed, size)
    if _done(path):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng([seed, 1])
    vocab = _vocab(150)
    heldout = [_text(rng, vocab, 40) for _ in range(60)]
    _write(pa.table({"text": heldout}), os.path.join(tmp, "heldout.parquet"))
    history = []  # novel texts of earlier batches
    kinds_out = []
    for b in range(n_batches):
        n = batch_docs
        # seeded kind counts: how many docs survive depends on the seed
        drawn = rng.multinomial(n, list(CORPUS_SHARES.values()))
        counts = dict(zip(CORPUS_SHARES, map(int, drawn)))
        if b == 0:  # nothing earlier to copy: those shares become novel
            counts["novel"] += counts.pop("exact_prior") + counts.pop("near_prior")
        texts, kinds = [], []
        lengths = rng.integers(40, 90, counts["novel"])
        novel = [_text(rng, vocab, int(m)) for m in lengths]
        texts += novel
        kinds += ["novel"] * len(novel)
        for kind in ("exact_prior", "near_prior"):
            for _ in range(counts.get(kind, 0)):
                src = history[rng.integers(0, len(history))]
                texts.append(src if kind == "exact_prior"
                             else _mutate(rng, vocab, src, 3))
                kinds.append(kind)
        for _ in range(counts["exact_in_batch"]):
            texts.append(novel[rng.integers(0, len(novel))])
            kinds.append("exact_in_batch")
        for _ in range(counts["contaminated"]):
            words = _text(rng, vocab, int(rng.integers(40, 90))).split(" ")
            h = heldout[rng.integers(0, len(heldout))].split(" ")
            at = int(rng.integers(0, len(h) - 5))
            pos = int(rng.integers(1, len(words) - 5))
            words[pos:pos + 5] = h[at:at + 5]
            texts.append(" ".join(words))
            kinds.append("contaminated")
        order = rng.permutation(n)
        ids = np.arange(n, dtype=np.int64) + b * 1_000_000
        texts = [texts[i] for i in order]
        kinds = [kinds[i] for i in order]
        _write(pa.table({"doc_id": ids, "text": texts}),
               os.path.join(tmp, f"batch{b:03d}.parquet"))
        kinds_out.append(dict(zip(map(int, ids), kinds)))
        history += novel
    with open(os.path.join(tmp, "kinds.json"), "w") as f:
        json.dump([{str(k): v for k, v in d.items()} for d in kinds_out], f)
    _finish(tmp, path, {"seed": seed, "batch_docs": batch_docs,
                        "n_batches": n_batches, "shares": CORPUS_SHARES})
    return path


# --------------------------------------------------------------------------
# docstore-serve: an initial document set, ingest batches and query texts
# --------------------------------------------------------------------------

def docstore(root, seed, store_docs, ingest_docs, n_ingests):
    """The initial store's docs, `n_ingests` ingest batches of
    `ingest_docs` fresh docs (unique texts: each freshness probe has
    exactly one right answer at rank 1), and the query texts the reader
    sends (texts of initial docs, in seeded order). Every doc is short
    enough to be one chunk."""
    size = f"{store_docs}+{ingest_docs}x{n_ingests}"
    path = _cache_dir(root, "docstore", seed, size)
    if _done(path):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(150)
    seen = set()

    def fresh_text():
        while True:
            t = _text(rng, vocab, int(rng.integers(30, 60)))
            if t not in seen:
                seen.add(t)
                return t

    def table(ids, texts):
        return pa.table({"doc_id": pa.array(ids, pa.int64()),
                         "data": pa.array([t.encode() for t in texts], pa.binary())})

    init = [fresh_text() for _ in range(store_docs)]
    _write(table(np.arange(store_docs), init), os.path.join(tmp, "store.parquet"))
    probes = []  # (id, text) of each batch's first doc
    for i in range(n_ingests):
        base = 1_000_000 * (i + 1)
        texts = [fresh_text() for _ in range(ingest_docs)]
        _write(table(np.arange(ingest_docs) + base, texts),
               os.path.join(tmp, f"ingest{i:03d}.parquet"))
        probes.append({"doc_id": base, "text": texts[0]})
    with open(os.path.join(tmp, "probes.json"), "w") as f:
        json.dump(probes, f)
    queries = [init[i] for i in rng.integers(0, store_docs, 4096)]
    with open(os.path.join(tmp, "queries.json"), "w") as f:
        json.dump(queries, f)
    _finish(tmp, path, {"seed": seed, "store_docs": store_docs,
                        "ingest_docs": ingest_docs, "n_ingests": n_ingests})
    return path


# --------------------------------------------------------------------------
# warehouse-scan: TPC-H-shaped star schema plus an events table
# --------------------------------------------------------------------------

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DAY_US = 86_400_000_000


def _ts(us):
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def warehouse(root, seed, scale):
    """The library fixtures' schema at `scale` × sf0.01 row counts
    (lineitem 60,000·scale, orders 15,000·scale, events 10,000·scale).
    Value distributions mirror the fixtures: two-decimal prices,
    1995-2001 dates, five event types over 30 days."""
    path = _cache_dir(root, "warehouse", seed, scale)
    if _done(path):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng([seed, 3])
    n_cust, n_supp, n_part = 1500 * scale, 100 * scale, 2000 * scale
    n_ord, n_li, n_ev = 15000 * scale, 60000 * scale, 10000 * scale
    n_users = 150 * scale
    d95 = np.datetime64("1995-01-01", "us").astype(np.int64)
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)
    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": REGIONS}), os.path.join(tmp, "region.parquet"))
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           os.path.join(tmp, "nation.parquet"))
    _write(pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": money(-999, 9999, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]}),
        os.path.join(tmp, "customer.parquet"))
    _write(pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": money(-999, 9999, n_supp)}),
        os.path.join(tmp, "supplier.parquet"))
    _write(pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.array(["small ring", "red widget", "blue bolt", "hot gear"])[
            rng.integers(0, 4, n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(["ECONOMY", "SMALL", "MEDIUM", "PROMO"])[rng.integers(0, 4, n_part)],
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2)}),
        os.path.join(tmp, "part.parquet"))
    odate = d95 + rng.integers(0, 2404, n_ord) * DAY_US
    _write(pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000, 400000, n_ord),
        "o_orderdate": _ts(odate),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]}),
        os.path.join(tmp, "orders.parquet"))
    okey = rng.integers(0, n_ord, n_li)
    ship = odate[okey] + rng.integers(1, 122, n_li) * DAY_US
    _write(pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(ship)}),
        os.path.join(tmp, "lineitem.parquet"))
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(start + rng.integers(0, 30 * DAY_US, n_ev))
    _write(pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": money(0, 50, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
        os.path.join(tmp, "events.parquet"))
    _finish(tmp, path, {"seed": seed, "scale": scale})
    return path

