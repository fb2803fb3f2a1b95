"""Output checks for the three workloads.

Each checker returns {op_id: reason} for the ops whose output was wrong;
an op missing from the map returned what the check expects.
"""
import datetime as dt
import decimal
import glob
import json
import math
import os
import re

import gen

# ------------------------------------------------------------ headline_queries


def _norm(v):
    """A comparable form of one value read from Spark or DuckDB."""
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        f = float(v)
        return None if math.isnan(f) else float("%.9g" % f)
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return sorted(([_norm(k), _norm(x)] for k, x in v.items()), key=repr)
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    if hasattr(v, "tolist"):
        return _norm(v.tolist())
    return v


def _spark_rows(path):
    import pyarrow.parquet as pq
    t = pq.read_table(path)
    cols = t.column_names
    data = []
    for c, f in zip(cols, t.schema):
        vals = t.column(c).to_pylist()
        if str(f.type).startswith("map<"):
            vals = [None if m is None else dict(m) for m in vals]
        data.append(vals)
    return cols, list(zip(*data)) if data else []


def compare_rows(got_cols, got, exp_cols, exp):
    """None when both results hold the same rows, else a reason."""
    if sorted(got_cols) != sorted(exp_cols):
        return f"columns {sorted(got_cols)} != {sorted(exp_cols)}"
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    order = sorted(got_cols)

    def canon(cols, rows):
        idx = [cols.index(c) for c in order]
        return sorted(repr([_norm(r[i]) for i in idx]) for r in rows)
    a, b = canon(got_cols, got), canon(exp_cols, exp)
    for x, y in zip(a, b):
        if x != y:
            return f"row {x[:160]} != {y[:160]}"
    return None


def check_headline(inputs, results, ops):
    """Compare each query's first result with its DuckDB oracle, and every
    later execution's fingerprint with the first one."""
    import duckdb
    oracle = json.load(open(f"{results}/oracle_sql.json"))
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{inputs}/{t}.parquet'")
    bad, first, verdict = {}, {}, {}
    for op in ops:
        if not op["ok"]:
            continue
        name = op["name"]
        if name in first:
            if op["fingerprint"] != first[name]:
                bad[op["id"]] = f"fingerprint {op['fingerprint']} != {first[name]}"
            elif verdict[name]:
                bad[op["id"]] = verdict[name]
            continue
        first[name] = op["fingerprint"]
        if name not in oracle:
            verdict[name] = "no oracle SQL"
        else:
            try:
                cols, got = _spark_rows(f"{results}/{name}")
                cur = con.execute(oracle[name])
                exp_cols = [d[0] for d in cur.description]
                verdict[name] = compare_rows(cols, got, exp_cols, cur.fetchall())
            except Exception as e:  # an oracle that cannot run checks nothing
                verdict[name] = f"check error: {type(e).__name__}: {e}"[:300]
        if verdict[name]:
            bad[op["id"]] = verdict[name]
    return bad


# --------------------------------------------------------------- pipeline_cron

_TS = "%Y-%m-%d %H:%M:%S"
_ENTITIES = [("&nbsp;", " "), ("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
             ("&quot;", '"'), ("&#39;", "'"), ("&apos;", "'")]


def html_to_text(s):
    """The reference's summary cleaning: tags out, entities decoded,
    whitespace collapsed."""
    s = re.sub(r"(?is)<script[^>]*>.*?</script>|<style[^>]*>.*?</style>", " ", s)
    s = re.sub(r"(?s)<!--.*?-->", " ", s)
    s = re.sub(r"<[^>]+>", " ", s)
    for ent, rep in _ENTITIES:
        s = s.replace(ent, rep)
    s = re.sub(r"&#\d+;", " ", s)
    return re.sub(r"\s+", " ", s).strip(" ")


def _blankish(v):
    return v is None or v.strip(" ") in ("", "nan")


def _normalize(e):
    row = {c: e[c] for c in ("job_title", "link", "entry_title", "published",
                             "feed_title", "reader", "time_window")}
    row["summary"] = html_to_text(e["summary"] or "")
    row["notes"] = ""
    return row


def _passes(row, asof, exclusions):
    published = dt.datetime.strptime(row["published"], _TS)
    if published < asof - dt.timedelta(days=gen.WINDOW_DAYS):
        return False
    if _blankish(row["entry_title"]) or _blankish(row["summary"]):
        return False
    return not any(kw.lower() in (row[c] or "").lower()
                   for c, kws in exclusions.items() for kw in kws)


def pipeline_model(seed, region, last_tick, reference=False):
    """Expected (stage rows, result rows) after each tick 1..last_tick.

    texas: SCD1 stage, keyword exclusions. us: no exclusions. Both load
    the result by overwrite, and us merges by upsert, which on these
    batches (notes always blank) gives the SCD1 stage. With `reference`,
    the reference's configuration: texas loads by append (new rows win,
    earlier result rows stay) and us keeps an SCD2 stage (changed or
    absent keys expire, changed and new keys get a current version).
    Rows are dicts of strings, as dumped.
    """
    compare = ("job_title", "entry_title", "published", "feed_title", "reader",
               "time_window", "summary")
    exclusions = gen.EXCLUDE if region == "texas" else {}
    stage, versions, result = {}, [], {}
    out = {}
    for k, batch in gen.pipeline_batches(seed, region):
        if k == 0:
            continue
        if k > last_tick:
            break
        clock = dt.datetime.strptime(gen.fmt_ts(gen.tick_clock(k)), _TS)
        asof = clock.strftime(_TS)
        rows = {e["link"]: _normalize(e) for e in batch}
        if region == "texas" or not reference:
            stage.update(rows)
            filtered = {l: dict(r, AS_OF_DT=asof) for l, r in stage.items()
                        if _passes(r, clock, exclusions)}
            result = {**result, **filtered} if reference else filtered
            out[k] = (list(stage.values()), list(result.values()))
        else:
            current = {v["link"]: v for v in versions if v["current_flag"] == "1"}
            for link, v in current.items():
                nw = rows.get(link)
                if nw is None or any(nw[c] != v[c] for c in compare):
                    v["effective_end"], v["current_flag"] = asof, "0"
            for link, r in rows.items():
                v = current.get(link)
                if v is None or v["current_flag"] == "0":
                    versions.append(dict(r, effective_start=asof, effective_end=None,
                                         current_flag="1"))
            res = [dict(v, AS_OF_DT=asof) for v in versions
                   if _passes(v, clock, exclusions)]
            out[k] = ([dict(v) for v in versions], res)
    return out


def _load_dump(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _multiset_diff(got, exp):
    cols = sorted(set().union(*[r.keys() for r in exp])) if exp else []
    got_cols = sorted(set().union(*[r.keys() for r in got])) if got else []
    if got and exp and not set(got_cols) <= set(cols):
        return f"unexpected columns {sorted(set(got_cols) - set(cols))}"
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    a = sorted(json.dumps([r.get(c) for c in cols]) for r in got)
    b = sorted(json.dumps([r.get(c) for c in cols]) for r in exp)
    for x, y in zip(a, b):
        if x != y:
            return f"row {x[:200]} != {y[:200]}"
    return None


def check_pipeline(seed, dumps, ops, reference=False):
    bad = {}
    last = max([int(o["name"].split("@")[1]) for o in ops] or [0])
    models = {r: pipeline_model(seed, r, last, reference) for r in ("texas", "us")}
    for op in ops:
        if not op["ok"]:
            continue
        region, k = op["name"].split("@")
        stage_exp, result_exp = models[region][int(k)]
        for table, exp in (("stage", stage_exp), ("result", result_exp)):
            path = f"{dumps}/op{op['id']}_{table}.jsonl"
            why = _multiset_diff(_load_dump(path), exp) if os.path.exists(path) \
                else "no output"
            if why:
                bad[op["id"]] = f"{table}: {why}"
                break
    return bad


# --------------------------------------------------------- stream_dedup_ingest


def check_stream(seed, survivors, ops):
    """Each ingested batch must add exactly its fresh docs to the table.

    Batch 0 is ingested before the timed ops start; op i ingests batch
    i + 1. A wrong batch 0 fails every op, since each dedups against it.
    """
    batch_of, fresh_of, repolled_by = {}, {}, {}
    n = len(ops) + 1
    for b, docs, fresh in gen.stream_batches(seed):
        if b >= n:
            break
        fresh_set = set(fresh)
        fresh_of[b] = fresh_set
        for d in docs:
            if d["id"] in fresh_set:
                batch_of[d["id"]] = b
            elif d["id"] in batch_of:
                repolled_by.setdefault(d["id"], []).append(b)
            else:
                batch_of[d["id"]] = b  # a planted near-duplicate
    counts = {}
    for i in survivors:
        counts[i] = counts.get(i, 0) + 1
    wrong = {}
    for i, c in counts.items():
        b = batch_of.get(i)
        if b is None:
            wrong.setdefault(-1, f"unknown id {i}")
        elif i not in fresh_of[b]:
            wrong.setdefault(b, f"near-duplicate {i} kept")
        elif c > 1:
            for rb in repolled_by.get(i, [b]):
                wrong.setdefault(rb, f"re-polled id {i} kept {c} times")
    for b, ids in fresh_of.items():
        missing = [i for i in ids if i not in counts]
        if missing:
            wrong.setdefault(b, f"{len(missing)} fresh docs dropped, e.g. {missing[0]}")
    bad = {}
    for b, op in enumerate(ops, start=1):
        why = wrong.get(b) or wrong.get(0) or wrong.get(-1)
        if op["ok"] and why:
            bad[op["id"]] = why
    return bad


def input_bytes(workload, inputs, ops):
    """Bytes of generated input the measured ops consumed."""
    if workload == "headline_queries":
        return sum(os.path.getsize(p) for p in glob.glob(f"{inputs}/*.parquet"))
    if workload.startswith("pipeline_cron"):
        return sum(os.path.getsize(f"{inputs}/{o['name'].split('@')[0]}/"
                                   f"tick_{int(o['name'].split('@')[1]):03d}.jsonl")
                   for o in ops)
    return sum(os.path.getsize(f"{inputs}/{o['name']}") for o in ops)
