"""Seeded input generators.

Everything the program reads is made here, from a seed, before the JVM
starts: the star-schema tables the two query packs run on, the raw
UK-DALE / REFIT / OLA-MQTT tree of the ingest workload and the
time-ordered chunk files of the stream replay. Each generator also
returns the counts the program's output must reproduce (the
closed-form side of the output checks).
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when any table generator changes: the cached star tables are
# keyed by it.
STAR_VERSION = 1
# The star tables are generated from this fixed seed (the seed of the
# reference testdata): the packs' --seed only drives their query order.
STAR_SEED = 42

_DAY_US = 86_400_000_000

STAR_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events", "documents", "embeddings"]


def _days(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "D").astype(np.int64))


def _ts_days(rng, lo, hi, n):
    """Midnight timestamps (µs) uniform over [lo, hi] days."""
    d = rng.integers(lo, hi + 1, n, dtype=np.int64)
    return pa.array(d * _DAY_US, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def star_tables(out_dir, sf=0.1, seed=STAR_SEED):
    """Write the ten star-schema tables (one parquet each) that the
    query packs read: same names, column types and value domains as
    the sf-scaled reference testdata. Returns {table: rows}."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
    tables = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segments = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, segments, n_cust)})
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    keys = np.arange(n_part)
    tables["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 1)})
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts_days(rng, _days(1995, 1, 1), _days(2001, 8, 1), n_ord),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _ts_days(rng, _days(1995, 1, 2), _days(2001, 11, 4), n_line)})

    # events: strictly increasing µs timestamps over January 2024, so
    # (user_id, ts) is unique and event_id follows ts
    span = 30 * _DAY_US
    ts = np.unique(rng.integers(0, span, n_ev + n_ev // 10))
    ts = np.sort(rng.choice(ts, n_ev, replace=False))
    t0 = _days(2024, 1, 1) * _DAY_US
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(t0 + ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n_ev), pa.int64()),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    # documents: bag-of-words texts over a 30-word vocabulary, with
    # planted exact duplicates and "… dup" near-duplicates (the dedup
    # queries' positives)
    vocab = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
             "filter", "group", "hash", "join", "key", "line", "merge", "order",
             "part", "query", "row", "scan", "slow", "small", "sort", "spark",
             "stream", "table", "the", "value", "vector", "window"]
    texts = [" ".join(np.asarray(vocab)[rng.integers(0, 30, rng.integers(10, 101))])
             for _ in range(n_doc)]
    near = rng.choice(np.arange(n_doc // 50, n_doc), n_doc // 20, replace=False)
    for i in near:
        words = texts[int(rng.integers(0, i))].split()
        words[int(rng.integers(0, len(words)))] = vocab[int(rng.integers(0, 30))]
        texts[i] = " ".join(words) + " dup"
    exact = rng.choice(np.setdiff1d(np.arange(n_doc // 50, n_doc), near),
                       max(1, n_doc // 600), replace=False)
    for i in exact:
        texts[i] = texts[int(rng.integers(0, i))]
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": _pick(rng, ["en", "de", "es", "fr", "zh"], n_doc,
                      p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})

    for name in STAR_TABLES:
        pq.write_table(tables[name], os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def ensure_star(root):
    """The star tables under `root`, generated on first use. Returns
    (dir, {table: {rows, bytes}})."""
    d = os.path.join(root, f"star-v{STAR_VERSION}-sf0.1")
    manifest = os.path.join(d, "manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            return d, json.load(f)
    tmp = d + ".tmp"
    rows = star_tables(tmp)
    sizes = {n: {"rows": r, "bytes": os.path.getsize(os.path.join(tmp, f"{n}.parquet"))}
             for n, r in rows.items()}
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(sizes, f)
    os.rename(tmp, d)
    return d, sizes


# ---------------------------------------------------------------- NILM raw tree

# raw labels → the universal label the reference vocabulary maps them
# to; "mystery_gadget" matches no keyword, so its channels land in
# "other"
UKDALE_LABELS = ["aggregate", "kettle", "fridge freezer", "washing machine",
                 "mystery_gadget"]
REFIT_LABELS = ["aggregate", "television", "dishwasher", "microwave",
                "mystery_gadget"]
MQTT_DEVICES = ["kettle", "toaster", "mystery_gadget"]
OTHER_LABEL = "mystery_gadget"

UK_HOUSES, UK_RATE = 3, 6
RE_HOUSES, RE_RATE = 2, 8
MQTT_RATE = 10
RESAMPLE_S = 24
SEQ_LEN, STEP = 512, 256


def _onoff(rng, n, on_w):
    """Appliance power: OFF standby noise with ON runs of random
    length (the input the on/off postprocessing is for)."""
    state = np.zeros(n, dtype=bool)
    i = int(rng.integers(0, 200))
    while i < n:
        run = int(rng.integers(5, 200))
        state[i:i + run] = True
        i += run + int(rng.integers(20, 600))
    p = np.where(state, on_w * (0.8 + 0.4 * rng.random(n)), 2.0 * rng.random(n))
    return np.round(p, 2)


def _fmt(ts, p, sep):
    return "".join(f"{t}{sep}{v}\n" for t, v in zip(ts.tolist(), p.tolist()))


def raw_tree(root, seed, readings=200_000):
    """UK-DALE `house_N/channel_M.dat` files, REFIT `CLEAN_HouseN.csv`
    wide files (with planted duplicate timestamps) and OLA Shelly MQTT
    logs (with planted malformed, non-`/events` and no-`apower` lines),
    plus each dataset's metadata JSON. Returns the manifest: sizes and
    every count the pipeline's output must reproduce."""
    rng = np.random.default_rng(seed)
    uk_ch = len(UKDALE_LABELS)
    re_cols = len(REFIT_LABELS)
    uk_rows = readings * 3 // 4 // (UK_HOUSES * uk_ch)
    re_rows = readings // 5 // (RE_HOUSES * re_cols)
    mq_ts = readings // 20 // len(MQTT_DEVICES)
    buckets = {}   # (dataset, house) → set of resampled bucket starts
    n_read = 0
    n_chan = 0

    meta = {}
    for h in range(1, UK_HOUSES + 1):
        hd = os.path.join(root, "ukdale", f"house_{h}")
        os.makedirs(hd, exist_ok=True)
        t0 = 1_600_000_000 + h * 17 + int(rng.integers(0, 600))
        ts = t0 + UK_RATE * np.arange(uk_rows)
        buckets[("ukdale", h)] = np.unique(ts // RESAMPLE_S)
        for c, label in enumerate(UKDALE_LABELS, start=1):
            p = (np.round(np.abs(rng.normal(0, 400, uk_rows)) + 100, 2) if c == 1
                 else _onoff(rng, uk_rows, 800 + 300 * c))
            with open(os.path.join(hd, f"channel_{c}.dat"), "w") as f:
                f.write(_fmt(ts, p, " "))
        n_read += uk_rows * uk_ch
        n_chan += uk_ch
        meta[f"House {h}"] = [
            {"channel": c, "appliance_raw_label": label, "manufacturer": f"m{c}",
             "model": f"x{c}",
             "acquisition_device": ("EcoManagerWholeHouseTx" if c == 1
                                    else "EcoManagerTxPlug")}
            for c, label in enumerate(UKDALE_LABELS, start=1)]
    os.makedirs(os.path.join(root, "ukdale", "metadata"), exist_ok=True)
    with open(os.path.join(root, "ukdale", "metadata",
                           "ukdale_combined_metadata.json"), "w") as f:
        json.dump(meta, f)

    refit_dups = 0
    refit_records = 0
    meta = {}
    os.makedirs(os.path.join(root, "refit"), exist_ok=True)
    for h in range(1, RE_HOUSES + 1):
        t0 = 1_600_000_000 + h * 31 + int(rng.integers(0, 600))
        ts = t0 + RE_RATE * np.arange(re_rows)
        # planted: repeated rows at an already-seen timestamp (delta 0);
        # the reference keeps them as readings and excludes them only
        # from rate inference
        dup_at = np.sort(rng.choice(np.arange(1, re_rows), re_rows // 200, replace=False))
        ts = np.insert(ts, dup_at, ts[dup_at - 1])
        refit_dups += len(dup_at)
        buckets[("refit", h)] = np.unique(ts // RESAMPLE_S)
        cols = [np.round(np.abs(rng.normal(0, 500, len(ts))) + 100, 2)] + \
            [_onoff(rng, len(ts), 600 + 200 * c) for c in range(1, re_cols)]
        names = ["Aggregate"] + [f"Appliance{i}" for i in range(1, re_cols)]
        lines = [f"Unix,Time,Issues,{','.join(names)}\n"]
        vals = np.column_stack(cols).tolist()
        lines += [f"{t},x,0,{','.join(map(str, v))}\n" for t, v in zip(ts.tolist(), vals)]
        with open(os.path.join(root, "refit", f"CLEAN_House{h}.csv"), "w") as f:
            f.write("".join(lines))
        n_read += len(ts) * re_cols
        refit_records += len(ts) * re_cols
        n_chan += re_cols
        meta[f"House {h}"] = [
            {"channel": c, "appliance_raw_label": label, "manufacturer": "m", "model": "x"}
            for c, label in enumerate(REFIT_LABELS, start=1)]
    with open(os.path.join(root, "refit", "refit_appliance_metadata.json"), "w") as f:
        json.dump(meta, f)

    # OLA Shelly MQTT logs: every device reports on one shared 10 s grid
    # over two daily files; the planted skip lines sit between them
    t0 = 1_600_100_000 + int(rng.integers(0, 600))
    ts = t0 + MQTT_RATE * np.arange(mq_ts)
    lines = []
    for t in ts.tolist():
        for d in MQTT_DEVICES:
            lines.append(json.dumps({"ts": t + 0.0, "payload": {
                "dst": f"{d}/events",
                "params": {"switch:0": {"apower": round(float(rng.uniform(0, 2500)), 2)}}}}))
    n_good = len(lines)
    planted = max(3, n_good // 100)
    kinds = rng.integers(0, 3, planted)
    for k, t in zip(kinds.tolist(), rng.choice(ts, planted).tolist()):
        d = MQTT_DEVICES[int(rng.integers(0, len(MQTT_DEVICES)))]
        if k == 0:
            bad = '{"ts": %d, "payload": {"dst": "%s/ev' % (t, d)
        elif k == 1:
            bad = json.dumps({"ts": t + 0.0, "payload": {
                "dst": f"{d}/status", "params": {"switch:0": {"apower": 1.0}}}})
        else:
            bad = json.dumps({"ts": t + 0.0, "payload": {
                "dst": f"{d}/events", "params": {"switch:0": {"voltage": 230.0}}}})
        lines.insert(int(rng.integers(0, len(lines) + 1)), bad)
    md = os.path.join(root, "mqtt")
    os.makedirs(md, exist_ok=True)
    half = len(lines) // 2
    for i, part in enumerate((lines[:half], lines[half:])):
        with open(os.path.join(md, f"mqtt.log.2020091{i + 4}"), "w") as f:
            f.write("\n".join(part) + "\n")
    buckets[("ola", 1)] = np.unique(ts // RESAMPLE_S)
    # the OLA adapter emits one channel per device plus the computed
    # aggregate, each with a reading at every grid timestamp
    n_read += mq_ts * (len(MQTT_DEVICES) + 1)
    n_chan += len(MQTT_DEVICES) + 1

    windows = sum(max(0, (len(b) - SEQ_LEN) // STEP + 1) for b in buckets.values())
    other = (UK_HOUSES * UKDALE_LABELS.count(OTHER_LABEL) +
             RE_HOUSES * REFIT_LABELS.count(OTHER_LABEL) +
             MQTT_DEVICES.count(OTHER_LABEL))
    raw_bytes = sum(os.path.getsize(os.path.join(dp, f))
                    for dp, _, fs in os.walk(root) for f in fs)
    return {
        "raw_bytes": raw_bytes,
        "inputs": {"ukdale_records": uk_rows * uk_ch * UK_HOUSES,
                   "refit_records": refit_records,
                   "mqtt_lines": n_good + planted},
        "expected": {
            "readings": n_read,
            "channels": n_chan,
            "windows": windows,
            "rows_dropped": planted,
            "other_channels": other,
            "refit_rate_s": RE_RATE,
            "refit_duplicate_rows": refit_dups * re_cols,
        },
        "params": {"resample_s": RESAMPLE_S, "seq_len": SEQ_LEN, "step": STEP},
    }


# ---------------------------------------------------------------- stream chunks

def stream_chunks(events_parquet, out_dir, seed, chunks=5):
    """Slice the events table into `chunks` time-ordered parquet files
    at seeded cut points (each chunk holds 60–140% of an even share),
    with strictly increasing mtimes (the file source replays
    oldest-first), plus one far-future sentinel row that closes every
    real window. Rows carry (device, ts, apower, event_type) with
    `apower` as integer cents, as in the streaming parity check."""
    rng = np.random.default_rng(seed)
    t = pq.read_table(events_parquet, columns=["user_id", "ts", "value", "event_type"])
    n = t.num_rows
    share = rng.uniform(0.6, 1.4, chunks)
    cuts = np.concatenate([[0], np.round(np.cumsum(share) / share.sum() * n)]).astype(int)
    base = pa.table({
        "device": pa.compute.cast(t["user_id"], pa.string()),
        "ts": t["ts"].cast(pa.timestamp("us", tz="UTC")),
        "apower": pa.compute.round(pa.compute.multiply(t["value"], 100.0), 0),
        "event_type": t["event_type"]})
    os.makedirs(out_dir, exist_ok=True)
    mtime0 = 1_700_000_000
    for k in range(chunks):
        p = os.path.join(out_dir, f"chunk-{k:03d}.parquet")
        pq.write_table(base.slice(cuts[k], cuts[k + 1] - cuts[k]), p)
        os.utime(p, (mtime0 + 2 * k, mtime0 + 2 * k))
    last = base["ts"][n - 1].value
    sentinel = pa.table({
        "device": ["__sentinel"],
        "ts": pa.array([last + 60 * _DAY_US], pa.timestamp("us", tz="UTC")),
        "apower": [0.0], "event_type": ["view"]})
    p = os.path.join(out_dir, f"chunk-{chunks:03d}.parquet")
    pq.write_table(sentinel, p)
    os.utime(p, (mtime0 + 2 * chunks, mtime0 + 2 * chunks))
    return {"rows": n, "chunks": chunks, "chunk_rows": np.diff(cuts).tolist(),
            "bytes": sum(os.path.getsize(os.path.join(out_dir, f))
                         for f in os.listdir(out_dir))}
