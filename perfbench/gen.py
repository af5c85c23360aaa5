"""Seeded inputs for the benchmark, and the outputs a correct program
must produce from them, derived here without running the program.

Three kinds of input, each written once into a directory keyed by its
generator version, seed and size (so a stale input is never reused):

- batch tables: the ten tables the query inventory reads (TPC-H-like
  star schema, an event log, a document corpus with planted
  near-duplicates, labelled embeddings). The data is generated from a
  fixed data seed, so the recorded query digests in golden.json stay
  valid; the run seed only permutes the query order.
- depth tape: one symbol's diff-depth backlog with contiguous update
  ids, 1-20 levels a side, a leading subscription ack and a stale
  pre-bridge prefix, plus the REST snapshot it syncs against.
- trade tape: one symbol's trades, with about 1% subscription-ack or
  truncated (corrupt) lines among them.
"""
import hashlib
import json
import os
import random
import shutil

VERSION = 4
ARRIVAL_MS = 1727784001000  # pinned arrival stamp of every replayed line
TABLE_DATA_SEED = 20241003
DEPTH_SYMBOL = "BTCUSDT"
TRADE_SYMBOL = "ETHUSDT"
MARKET = "spot"


def _atomic_dir(final, build):
    """Build into a temp sibling, then rename: an interrupted run never
    leaves a half-written input that a later run would trust."""
    if os.path.isdir(final):
        return final
    tmp = final + ".tmp%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    try:
        os.rename(tmp, final)
    except OSError:  # a concurrent run won the race
        shutil.rmtree(tmp, ignore_errors=True)
    return final


# ---------------------------------------------------------------- tables

WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def table_rows(sf):
    k = sf / 0.01
    return {"customer": int(1500 * k), "supplier": int(100 * k),
            "part": int(2000 * k), "orders": int(15000 * k),
            "lineitem": int(60000 * k), "events": int(10000 * k),
            "documents": 500, "embeddings": 500}


def _write_tables(out, sf):
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(TABLE_DATA_SEED)
    n = table_rows(sf)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, name + ".parquet"))

    def i64(x):
        return pa.array(np.asarray(x, dtype=np.int64))

    def i32(x):
        return pa.array(np.asarray(x, dtype=np.int32))

    def f64(x):
        return pa.array(np.asarray(x, dtype=np.float64))

    def strs(x):
        return pa.array(list(x), type=pa.string())

    def ts_us(epoch_us):
        return pa.array(np.asarray(epoch_us, dtype=np.int64)).cast(
            pa.timestamp("us"))

    day_us = 86400 * 1_000_000
    d1995 = 788918400 * 1_000_000  # 1995-01-01T00:00:00

    write("region", {"r_regionkey": i32(range(5)), "r_name": strs(
        ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    write("nation", {"n_nationkey": i32(range(25)),
                     "n_name": strs("NATION_%d" % i for i in range(25)),
                     "n_regionkey": i32([i % 5 for i in range(25)])})
    nc = n["customer"]
    write("customer", {
        "c_custkey": i64(range(nc)),
        "c_name": strs("Customer#%09d" % i for i in range(nc)),
        "c_nationkey": i32(rng.integers(0, 25, nc)),
        "c_acctbal": f64(np.round(rng.uniform(-999.99, 9999.99, nc), 2)),
        "c_mktsegment": strs(rng.choice(
            ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING",
             "FURNITURE"], nc))})
    ns = n["supplier"]
    write("supplier", {
        "s_suppkey": i64(range(ns)),
        "s_name": strs("Supplier#%09d" % i for i in range(ns)),
        "s_nationkey": i32(rng.integers(0, 25, ns)),
        "s_acctbal": f64(np.round(rng.uniform(-999.99, 9999.99, ns), 2))})
    npart = n["part"]
    adj = ["small", "red", "blue", "hot", "old", "cold", "new", "large"]
    noun = ["bolt", "gear", "widget", "anvil", "ring", "rod", "plate", "gizmo"]
    write("part", {
        "p_partkey": i64(range(npart)),
        "p_name": strs("%s %s" % (adj[a], noun[b]) for a, b in zip(
            rng.integers(0, 8, npart), rng.integers(0, 8, npart))),
        "p_brand": strs("Brand#%d" % b for b in rng.integers(1, 26, npart)),
        "p_type": strs(rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL",
                                   "MEDIUM", "PROMO"], npart)),
        "p_size": i32(rng.integers(1, 51, npart)),
        "p_retailprice": f64([900.0 + (k % 1000) / 10.0
                              for k in range(npart)])})
    no = n["orders"]
    odays = rng.integers(0, 2404, no)
    write("orders", {
        "o_orderkey": i64(range(no)),
        "o_custkey": i64(rng.integers(0, nc, no)),
        "o_orderstatus": strs(rng.choice(["F", "O", "P"], no)),
        "o_totalprice": f64(np.round(rng.uniform(1000, 500000, no), 2)),
        "o_orderdate": ts_us(d1995 + odays * day_us),
        "o_orderpriority": strs(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            no))})
    nl = n["lineitem"]
    lok = rng.integers(0, no, nl)
    write("lineitem", {
        "l_orderkey": i64(lok),
        "l_partkey": i64(rng.integers(0, npart, nl)),
        "l_suppkey": i64(rng.integers(0, ns, nl)),
        "l_linenumber": i32(rng.integers(1, 8, nl)),
        "l_quantity": f64(rng.integers(1, 51, nl).astype(float)),
        "l_extendedprice": f64(np.round(rng.uniform(900, 105000, nl), 2)),
        "l_discount": f64(rng.integers(0, 11, nl) / 100.0),
        "l_tax": f64(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": strs(rng.choice(["A", "N", "R"], nl)),
        "l_linestatus": strs(rng.choice(["O", "F"], nl)),
        "l_shipdate": ts_us(d1995 + (odays[lok] + rng.integers(1, 122, nl))
                            * day_us)})
    ne = n["events"]
    t2024 = 1704067200 * 1_000_000
    gaps = rng.exponential(30 * day_us / ne, ne).astype(np.int64)
    write("events", {
        "event_id": i64(range(ne)),
        "ts": ts_us(t2024 + np.cumsum(gaps)),
        "user_id": i64(rng.integers(0, max(1, nc // 10), ne)),
        "event_type": strs(rng.choice(
            ["error", "view", "purchase", "click", "signup"], ne)),
        "value": f64(np.maximum(0.01, np.round(
            rng.lognormal(3.0, 1.2, ne), 2))),
        "props": strs('{"k": %d}' % k for k in rng.integers(0, 100, ne))})
    nd = n["documents"]
    texts = []
    for i in range(nd):
        if i > 20 and rng.random() < 0.05:  # planted near-duplicate
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(
                WORDS, int(rng.integers(10, 100)))))
    write("documents", {
        "doc_id": i64(range(nd)),
        "text": strs(texts),
        "lang": strs(rng.choice(LANGS, nd, p=LANG_P)),
        "source": strs("src%d" % (i % 20) for i in range(nd)),
        "n_chars": i64([len(t) for t in texts])})
    nv = n["embeddings"]
    centers = rng.normal(size=(10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, nv)
    vecs = 0.14 * centers[labels] + rng.normal(size=(nv, 64)) / 8.0
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": i64(range(nv)),
        "embedding": pa.array([list(v) for v in vecs.astype(np.float32)],
                              type=pa.list_(pa.float32())),
        "label": i32(labels)})


def tables(root, sf):
    final = os.path.join(root, "tables-v%d-d%d-sf%s" % (
        VERSION, TABLE_DATA_SEED, sf))
    return _atomic_dir(final, lambda d: _write_tables(d, sf))


# ---------------------------------------------------------------- tapes

def _dec(rng, lo, hi, dp=8):
    """A decimal string with dp places, as Binance sends prices."""
    return "%.*f" % (dp, rng.randint(lo, hi) / 100.0)


def _levels(rng, base, sign):
    n = rng.randint(1, 20)
    out = []
    for i in range(n):
        price = "%.8f" % ((base + sign * (i * 10 + rng.randint(0, 9))) / 100.0)
        qty = "0.00000000" if rng.random() < 0.1 else _dec(rng, 1, 500000)
        out.append([price, qty])
    return out


def _split_write(d, lines, files):
    os.makedirs(d)
    per = -(-len(lines) // files)
    for i in range(files):
        chunk = lines[i * per:(i + 1) * per]
        if chunk:
            with open(os.path.join(d, "part-%03d.jsonl" % i), "w") as f:
                f.write("\n".join(chunk) + "\n")


def _depth_blocks(messages, snapshot):
    """The CSV lines a correct depth pipeline writes for this tape, one
    block per input message: the stale prefix is buffered and dropped
    (empty blocks), the bridge's block holds the snapshot replay and the
    bridge update twice, every later update follows; each update is
    exploded asks-then-bids in array order."""
    blocks = []

    def rows(ts, lts, bids, asks, snap):
        flag = "True" if snap else "False"
        return ["%d,%d,%s,%s,%s,%s" % (ts, lts, side, p, q, flag)
                for side, levels in (("ask", asks), ("bid", bids))
                for p, q in levels]

    last = snapshot["lastUpdateId"]
    synced = False
    for m in messages:
        upd = rows(m["E"], ARRIVAL_MS, m["b"], m["a"], False)
        if synced:
            blocks.append(upd)
        elif m["u"] > last and m["U"] <= last + 1 <= m["u"]:
            synced = True
            blocks.append(rows(ARRIVAL_MS - 1, ARRIVAL_MS - 1, snapshot["bids"],
                               snapshot["asks"], True) + upd + upd)
        else:
            blocks.append([])
    return blocks


CSV_HEADER = "timestamp,local_timestamp,side,price,quantity,is_snapshot"


def depth_messages(seed, n_msgs):
    """The tape's update messages and its snapshot. Messages come from
    their own stream and the snapshot from another, both independent of
    n_msgs: a shorter tape of the same seed is an exact prefix of a
    longer one (the layer cuts replay such a prefix)."""
    rng = random.Random(seed * 7919 + 1)
    snap_rng = random.Random(seed * 7919 + 2)
    stale = snap_rng.randint(20, 200)
    uid = rng.randint(10_000, 1_000_000)
    E = 1727784000000 + rng.randint(0, 10_000)
    messages = []
    for _ in range(n_msgs):
        span = rng.randint(1, 5)
        mid = rng.randint(5_000_000, 6_000_000)
        messages.append({"e": "depthUpdate", "E": E, "s": DEPTH_SYMBOL,
                         "U": uid, "u": uid + span - 1,
                         "b": _levels(rng, mid, -1), "a": _levels(rng, mid + 5, 1)})
        uid += span
        E += rng.randint(50, 150)
    bridge = messages[stale]
    snapshot = {"lastUpdateId": bridge["U"] - 1 + snap_rng.randint(
        0, bridge["u"] - bridge["U"]),
        "bids": _levels(snap_rng, 5_500_000, -1),
        "asks": _levels(snap_rng, 5_500_005, 1)}
    return messages, snapshot, stale


def depth_blocks(seed, n_msgs):
    messages, snapshot, _ = depth_messages(seed, n_msgs)
    return _depth_blocks(messages, snapshot)


def _write_depth(d, seed, n_msgs):
    messages, snapshot, stale = depth_messages(seed, n_msgs)
    lines = ['{"result":null,"id":1}'] + [
        json.dumps(m, separators=(",", ":")) for m in messages]
    _split_write(os.path.join(d, "%s.%s.depth" % (DEPTH_SYMBOL, MARKET)),
                 lines, 4)
    with open(os.path.join(d, "snapshot.json"), "w") as f:
        json.dump(snapshot, f)
    h = hashlib.sha256()
    h.update(CSV_HEADER.encode() + b"\n")
    n_rows = 0
    for block in _depth_blocks(messages, snapshot):
        for r in block:
            h.update(r.encode() + b"\n")
            n_rows += 1
    meta = {"lines": len(lines), "messages": n_msgs, "stale": stale,
            "csv_rows": n_rows, "csv_sha256": h.hexdigest(),
            "symbol": DEPTH_SYMBOL, "market": MARKET,
            "arrival_ms": ARRIVAL_MS}
    with open(os.path.join(d, "expected.json"), "w") as f:
        json.dump(meta, f)


def depth_tape(root, seed, n_msgs):
    final = os.path.join(root, "depth-v%d-s%d-n%d" % (VERSION, seed, n_msgs))
    return _atomic_dir(final, lambda d: _write_depth(d, seed, n_msgs))


def trade_row_key(ts, lts, tid, price, qty, side):
    return "%d|%d|%d|%s|%s|%s" % (ts, lts, tid, price, qty, side)


def row_hash(key):
    return int.from_bytes(hashlib.blake2b(key.encode(), digest_size=8)
                          .digest(), "little")


def trade_lines(seed, n_lines):
    """The trade tape's lines: trades of one symbol, about 0.5% of them
    subscription acks and 0.5% cut off mid-object (corrupt); and the row
    key of every trade a correct parse keeps."""
    rng = random.Random(seed * 104729)
    tid = rng.randint(1, 10 ** 8)
    E = 1727784000000 + rng.randint(0, 10_000)
    base = rng.randint(1_000, 6_000_000)
    lines, keys = [], []
    for i in range(n_lines):
        r = rng.random()
        if r < 0.005:
            lines.append('{"result":null,"id":%d}' % (i + 1))
            continue
        price = "%.8f" % ((base + rng.randint(-500, 500)) / 100.0)
        qty = _dec(rng, 1, 100000)
        m = rng.random() < 0.5
        line = json.dumps({"e": "trade", "E": E, "s": TRADE_SYMBOL, "t": tid,
                           "p": price, "q": qty, "T": E - 2, "m": m,
                           "M": True}, separators=(",", ":"))
        if r < 0.01:
            lines.append(line[:rng.randint(5, len(line) - 2)])
        else:
            lines.append(line)
            keys.append(trade_row_key(E, ARRIVAL_MS, tid, price, qty,
                                      "sell" if m else "buy"))
        tid += 1
        E += rng.randint(1, 20)
    return lines, keys


def _write_trades(d, seed, n_lines):
    lines, keys = trade_lines(seed, n_lines)
    _split_write(os.path.join(d, "%s.%s.trade" % (TRADE_SYMBOL, MARKET)),
                 lines, 4)
    with open(os.path.join(d, "expected.json"), "w") as f:
        json.dump({"symbol": TRADE_SYMBOL, "market": MARKET, "lines": n_lines,
                   "arrival_ms": ARRIVAL_MS, "seed": seed, "rows": len(keys),
                   "digest": sum(row_hash(k) for k in keys) % (1 << 64)}, f)


def trade_tape(root, seed, n_lines):
    final = os.path.join(root, "trade-v%d-s%d-n%d" % (VERSION, seed, n_lines))
    return _atomic_dir(final, lambda d: _write_trades(d, seed, n_lines))
