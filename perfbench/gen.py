"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical files. The program under test only ever sees the files;
the expected outputs are recomputed from the same seed by checks.py.
"""
import json
import os
import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- headline_queries: the TPC-H-like star schema plus events, documents
# and embeddings that the headline queries read (the schemas and value
# domains of the repository's testdata, TESTDATA.md; half its sf0.01 row
# counts for the big tables, as a fixed per-query cost dominates there).
SIZES = {"customer": 750, "supplier": 50, "part": 1000, "orders": 7500,
         "events": 5000, "documents": 500, "embeddings": 500}
DOC_WORDS = ("a the key agg row scan slow fast table value part hash merge "
             "batch spark line sort window order data column join small "
             "customer query big group filter stream vector").split()
LANGS = ["en", "en", "en", "en", "de", "es", "fr", "zh"]
T_2024 = np.datetime64("2024-01-01T00:00:00", "us")
T_1995 = np.datetime64("1995-01-01T00:00:00", "us")


def _rng(seed, stream):
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _write(table, path):
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True, store_schema=False)


def _money(r, lo, hi, n):
    return np.round(r.uniform(lo, hi, n), 2)


def headline_tables(seed, out_dir):
    """Write the ten tables the headline queries scan to `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, 1)
    i32, i64, f64, ts = pa.int32(), pa.int64(), pa.float64(), pa.timestamp("us")

    _write(pa.table({"r_regionkey": pa.array(range(5), i32),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
           f"{out_dir}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), i32),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}),
           f"{out_dir}/nation.parquet")

    nc = SIZES["customer"]
    _write(pa.table({
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(r.integers(0, 25, nc), i32),
        "c_acctbal": pa.array(_money(r, -999.99, 9999.99, nc), f64),
        "c_mktsegment": r.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"], nc).tolist()}),
        f"{out_dir}/customer.parquet")

    ns = SIZES["supplier"]
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(r.integers(0, 25, ns), i32),
        "s_acctbal": pa.array(_money(r, -999.99, 9999.99, ns), f64)}),
        f"{out_dir}/supplier.parquet")

    npart = SIZES["part"]
    adj = ["small", "red", "blue", "large", "green", "shiny", "steel", "brass"]
    noun = ["ring", "widget", "bolt", "gear", "valve", "spring", "nut", "pin"]
    _write(pa.table({
        "p_partkey": pa.array(np.arange(npart), i64),
        "p_name": [f"{a} {b}" for a, b in zip(r.choice(adj, npart), r.choice(noun, npart))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, npart)],
        "p_type": r.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"],
                           npart).tolist(),
        "p_size": pa.array(r.integers(1, 51, npart), i32),
        "p_retailprice": pa.array(np.round(900 + (np.arange(npart) % 1000) / 10, 1), f64)}),
        f"{out_dir}/part.parquet")

    no = SIZES["orders"]
    odays = r.integers(0, 2404, no)  # 1995-01-01 .. 2001-08-01
    odate = T_1995 + odays.astype("timedelta64[D]")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(r.integers(0, nc, no), i64),
        "o_orderstatus": r.choice(["P", "O", "F"], no).tolist(),
        "o_totalprice": pa.array(_money(r, 1000, 500000, no), f64),
        "o_orderdate": pa.array(odate, ts),
        "o_orderpriority": r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"], no).tolist()}),
        f"{out_dir}/orders.parquet")

    lines = r.integers(1, 8, no)
    lok = np.repeat(np.arange(no), lines)
    nl = len(lok)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    qty = r.integers(1, 51, nl).astype(float)
    _write(pa.table({
        "l_orderkey": pa.array(lok, i64),
        "l_partkey": pa.array(r.integers(0, npart, nl), i64),
        "l_suppkey": pa.array(r.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(lnum, i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(np.round(qty * r.uniform(900, 2100, nl), 2), f64),
        "l_discount": pa.array(r.integers(0, 11, nl) / 100.0, f64),
        "l_tax": pa.array(r.integers(0, 9, nl) / 100.0, f64),
        "l_returnflag": r.choice(["A", "N", "R"], nl).tolist(),
        "l_linestatus": r.choice(["O", "F"], nl).tolist(),
        "l_shipdate": pa.array(odate[lok] + r.integers(1, 122, nl).astype("timedelta64[D]"), ts)}),
        f"{out_dir}/lineitem.parquet")

    ne = SIZES["events"]
    offs = np.sort(r.integers(0, 30 * 86400 * 10**6, ne))
    _write(pa.table({
        "event_id": pa.array(np.arange(ne), i64),
        "ts": pa.array(T_2024 + offs.astype("timedelta64[us]"), ts),
        "user_id": pa.array(r.integers(0, 150, ne), i64),
        "event_type": r.choice(["click", "signup", "error", "view", "purchase"], ne).tolist(),
        "value": pa.array(np.round(np.minimum(r.exponential(40, ne), 490) + 0.01, 2), f64),
        "props": [json.dumps({"k": int(k)}) for k in r.integers(0, 100, ne)]}),
        f"{out_dir}/events.parquet")

    nd = SIZES["documents"]
    texts = []
    for i in range(nd):
        if i >= 20 and r.random() < 0.05:  # planted near-duplicate
            src = texts[int(r.integers(0, i))].split()
            src[int(r.integers(0, len(src)))] = str(r.choice(DOC_WORDS))
            texts.append(" ".join(src))
        else:
            texts.append(" ".join(r.choice(DOC_WORDS, int(r.integers(10, 90)))))
    _write(pa.table({
        "doc_id": pa.array(np.arange(nd), i64),
        "text": texts,
        "lang": r.choice(LANGS, nd).tolist(),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], i64)}),
        f"{out_dir}/documents.parquet")

    nv = SIZES["embeddings"]
    centers = r.normal(0, 1, (10, 64))
    labels = r.integers(0, 10, nv)
    vecs = centers[labels] + r.normal(0, 1.2, (nv, 64))
    dup = r.random(nv) < 0.03
    for i in np.nonzero(dup)[0]:
        if i > 0:
            vecs[i] = vecs[int(r.integers(0, i))] + r.normal(0, 0.01, 64)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(nv), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)}),
        f"{out_dir}/embeddings.parquet")


# --- pipeline_cron: seeded RSS feed batches for two regions.
PIPE_ENTRIES = 1000      # entries per region per tick
PIPE_WARM_ENTRIES = 200  # entries of the unchecked warm-up tick 0
PIPE_REPOLL = 0.4        # share of a batch that re-polls an earlier link
PIPE_CHANGED = 0.3       # share of re-polls whose title or summary changed
PIPE_MAX_TICKS = 8       # ticks generated; a run stops early if it uses all
PIPE_MAX_AGE_DAYS = 6    # new entries are published up to this long before their tick
PIPE_T0 = np.datetime64("2024-03-01T12:00:00", "s")
TICK_DAYS = 7
WINDOW_DAYS = 30
EXCLUDE = {"entry_title": ["intern", "unpaid"], "summary": ["clearance"]}
TITLE_WORDS = ("data engineer analyst senior junior lead spark python cloud "
               "platform backend remote manager scientist ml sql etl staff "
               "principal developer").split()
FEED_TITLES = ["Indeed Data Jobs", "LinkedIn Analytics", "Dice Engineering",
               "Remote OK", "Texas Tech Jobs"]


def tick_clock(k):
    """Batch timestamp of cron tick `k` (tick 0 is the warm-up tick)."""
    return PIPE_T0 + np.timedelta64(TICK_DAYS * k, "D")


def fmt_ts(t):
    return str(t.astype("datetime64[s]")).replace("T", " ")


def _words(r, vocab, lo, hi, n):
    """`n` strings of lo..hi-1 words drawn from `vocab`."""
    lens = r.integers(lo, hi, n)
    flat = vocab[r.integers(0, len(vocab), int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    return [" ".join(w) for w in np.split(flat, cuts)]


def _summaries(r, n):
    """Plain, HTML, blank, whitespace-only and 'nan' summaries."""
    words = _words(r, SUMMARY_VOCAB, 8, 25, n)
    kind = r.random(n)
    out = []
    for text, u in zip(words, kind):
        if u < 0.25:
            w = text.split()
            h = len(w) // 2
            out.append(f"<p>{' '.join(w[:h])}</p>\n<b>{' '.join(w[h:])}</b> &amp; more<br/>")
        elif u < 0.31:
            out.append("")
        elif u < 0.34:
            out.append("   ")
        elif u < 0.36:
            out.append("nan")
        else:
            out.append(text)
    return out


SUMMARY_VOCAB = np.array(TITLE_WORDS + DOC_WORDS)
TITLE_VOCAB = np.array(TITLE_WORDS)


def pipeline_batches(seed, region):
    """Yield (tick, entries) for ticks 0..PIPE_MAX_TICKS of `region`.

    Tick 0 warms the JVM up and is never checked. Each entry is a dict
    of the raw feed columns; `published` is a string as feeds send it.
    New entries are published up to 6 days before their tick, so the
    oldest of tick 1 leave the 30-day window at tick 5. Re-polls keep
    their published time; some change the title or the summary.
    """
    r = _rng(seed, 2 if region == "texas" else 3)
    seen = {}  # link -> last entry sent
    for k in range(PIPE_MAX_TICKS + 1):
        clock = tick_clock(k)
        size = PIPE_WARM_ENTRIES if k == 0 else PIPE_ENTRIES
        n_old = int(PIPE_ENTRIES * PIPE_REPOLL) if k > 1 else 0
        batch = []
        if n_old:
            keys = list(seen)
            pick = r.choice(len(keys), size=n_old, replace=False)
            change = r.random(n_old)
            new_sum = _words(r, TITLE_VOCAB, 12, 13, n_old)
            for i, u, text in zip(pick, change, new_sum):
                e = dict(seen[keys[i]])
                if u < PIPE_CHANGED / 2:
                    e["entry_title"] = e["entry_title"] + " (Updated)"
                elif u < PIPE_CHANGED:
                    e["summary"] = text
                batch.append(e)
        n = size - n_old
        pub = clock - r.integers(0, PIPE_MAX_AGE_DAYS * 86400, n).astype("timedelta64[s]")
        titles = [t.title() for t in _words(r, TITLE_VOCAB, 2, 5, n)]
        excl = r.random(n)
        kws = r.choice(EXCLUDE["entry_title"], n)
        summaries = _summaries(r, n)
        clear = r.random(n)
        jobs = r.choice(["Data Engineer", "Data Analyst", "ML Engineer"], n)
        feeds = r.choice(FEED_TITLES, n)
        windows = r.choice(["15min", "daily"], n)
        for i in range(n):
            title = titles[i]
            if excl[i] < 0.05:  # excluded keyword, in either case
                kw = str(kws[i])
                title = f"{title} {kw.upper() if excl[i] < 0.025 else kw.title()}"
            summary = summaries[i]
            if clear[i] < 0.03:
                summary = summary + " Clearance required"
            batch.append({
                "job_title": str(jobs[i]),
                "link": f"https://{region}.jobs.example/{k}/{i}",
                "entry_title": title,
                "published": fmt_ts(pub[i]),
                "feed_title": str(feeds[i]),
                "reader": "rss.app",
                "time_window": str(windows[i]),
                "summary": summary})
        if k:  # the warm-up tick runs on its own tables
            for e in batch:
                seen[e["link"]] = e
        yield k, batch


def pipeline_inputs(seed, out_dir):
    """Write every region's batches as JSON lines under `out_dir`, and a
    manifest with each tick's clock and the filter settings."""
    os.makedirs(out_dir, exist_ok=True)
    with open(f"{out_dir}/manifest.json", "w") as f:
        json.dump({"ticks": [fmt_ts(tick_clock(k)) for k in range(PIPE_MAX_TICKS + 1)],
                   "window_days": WINDOW_DAYS, "exclusions": EXCLUDE}, f, sort_keys=True)
    for region in ("texas", "us"):
        d = f"{out_dir}/{region}"
        os.makedirs(d, exist_ok=True)
        for k, batch in pipeline_batches(seed, region):
            with open(f"{d}/tick_{k:03d}.jsonl", "w") as f:
                f.writelines(json.dumps(e, sort_keys=True) + "\n" for e in batch)


# --- stream_dedup_ingest: one JSON-lines file per micro-batch.
STREAM_DOCS = 500        # docs per micro-batch
STREAM_REPOLL = 0.1      # same id and text as a doc of an earlier batch
STREAM_NEARDUP = 0.1     # new id, text of an earlier doc with one token changed
STREAM_TOKENS = 60
STREAM_MAX_BATCHES = 16
STREAM_T0 = np.datetime64("2024-05-01T00:00:00", "s")
# Event times fall on the 24 hours of one day, so the watermark stops
# moving after the first batch and no batch waits on a no-data batch.
STREAM_HOURS = 24


def stream_batches(seed):
    """Yield (batch, docs, survivor_ids) for each micro-batch file.

    `docs` are dicts with id, text and ts. A fresh doc survives; a
    re-polled doc repeats an earlier id, and a near-duplicate copies an
    earlier fresh doc with its last token replaced (Jaccard >= 0.9 on
    3-token shingles), so both must be dropped.
    """
    r = _rng(seed, 4)
    letters = np.array(list(string.ascii_lowercase))
    lens = r.integers(3, 9, 20000)
    flat = letters[r.integers(0, 26, int(lens.sum()))]
    vocab = np.array(["".join(w) for w in np.split(flat, np.cumsum(lens)[:-1])])
    fresh = []  # earlier fresh docs
    next_id = 0
    for b in range(STREAM_MAX_BATCHES):
        hours = r.integers(0, STREAM_HOURS, STREAM_DOCS)
        stamps = [fmt_ts(STREAM_T0 + np.timedelta64(int(h), "h")) for h in hours]
        docs, survivors = [], []
        n_re = int(STREAM_DOCS * STREAM_REPOLL) if b else 0
        n_nd = int(STREAM_DOCS * STREAM_NEARDUP) if b else 0
        if b:
            for i in r.choice(len(fresh), size=n_re, replace=False):
                docs.append(fresh[i])
            swaps = vocab[r.integers(0, len(vocab), n_nd)]
            for i, w in zip(r.choice(len(fresh), size=n_nd, replace=False), swaps):
                toks = fresh[i]["text"].split()
                toks[-1] = str(w)
                docs.append({"id": next_id, "text": " ".join(toks), "ts": stamps[len(docs)]})
                next_id += 1
        n = STREAM_DOCS - n_re - n_nd
        texts = _words(r, vocab, STREAM_TOKENS, STREAM_TOKENS + 1, n)
        new = [{"id": next_id + i, "text": t, "ts": stamps[len(docs) + i]}
               for i, t in enumerate(texts)]
        next_id += n
        survivors = [d["id"] for d in new]
        docs.extend(new)
        docs = [docs[i] for i in r.permutation(len(docs))]
        fresh.extend(new)
        yield b, docs, survivors


def stream_inputs(seed, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for b, docs, _ in stream_batches(seed):
        with open(f"{out_dir}/batch_{b:03d}.jsonl", "w") as f:
            f.writelines(json.dumps(d, sort_keys=True) + "\n" for d in docs)


GENERATORS = {"headline_queries": headline_tables,
              "pipeline_cron": pipeline_inputs,
              "stream_dedup_ingest": stream_inputs}
