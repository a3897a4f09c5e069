"""Seeded input generators for the three workloads.

Everything the program under test receives is made here, from the seed
alone: the same seed gives byte-identical files and the same lake
operation sequence. Nothing reads the machine's clock or environment.
"""
import gzip
import json
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEQ_WIDTH = 56
LOG_SUFFIX = ".records.log.gz"
# 2024-03-04 00:00:00 UTC: every generated ingest event falls on this day
EPOCH0_MS = 1_709_510_400_000


def _rng(seed, stream):
    """Independent, reproducible generator per (seed, input stream)."""
    return np.random.Generator(np.random.PCG64([int(seed), zlib.crc32(stream.encode())]))


# --------------------------------------------------------------- ingest

UTM_SOURCES = ["newsletter", "google", "twitter", "partner", "direct"]
UTM_MEDIUMS = ["email", "cpc", "social", "referral"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
AGENTS = [
    "Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 Chrome/120.0",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 14_1) Safari/605.1.15",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) Firefox/121.0",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 17_1 like Mac OS X) Mobile/15E148",
]


def seq_str(n):
    return str(n).rjust(SEQ_WIDTH, "0")


def cookie_sid(event_id, user_id):
    """The decoded value of the `sid` cookie: it holds '=' and '/' so the
    URL-decoding step of the parse is exercised on every row."""
    return f"{event_id:x}=={user_id}/s"


def ingest_record(event_id, user_id, etype, t_ms, k):
    """One reference-shaped envelope (FIXTURES A.2) whose `body` is the
    JSON string of the inner request (A.3), every field populated. Built
    from a template (every value is plain ASCII with no quotes), which is
    several times faster than json.dumps; tests/test_gen.py checks that
    both levels parse as JSON."""
    src = UTM_SOURCES[k % len(UTM_SOURCES)]
    ua = AGENTS[user_id % len(AGENTS)]
    # URL-encoded: the sid's only reserved characters are '=' and '/'
    sid = cookie_sid(event_id, user_id).replace("=", "%3D").replace("/", "%2F")
    cookie = f"sid={sid}; theme=dark; uid={user_id}"
    inner = (
        f'{{"id":"evt-{event_id}","t":{t_ms},'
        f'"url":"https://example.com/p/{k % 97}?utm_source={src}&x={k % 13}",'
        f'"path":"/p/{k % 97}","method":"GET","referrer":"https://search.example/q?w={k % 31}",'
        f'"args":{{"utm_source":"{src}","utm_medium":"{UTM_MEDIUMS[k % len(UTM_MEDIUMS)]}",'
        f'"utm_campaign":"camp-{user_id % 20}","utm_content":"c{k % 7}","utm_term":"t{k % 11}",'
        f'"x":"{k % 13}"}},"form":{{"ref":"f{k % 5}"}},"user":{{"uid":"{user_id}"}},'
        f'"env":{{"region":"eu-west-1","type":"{etype}"}},'
        f'"headers":{{"X-Forward-For":"203.0.{(user_id >> 8) & 255}.{user_id & 255}",'
        f'"User-Agent":"{ua}","Host":"example.com","Cookie":"{cookie}"}}}}')
    body = inner.replace('"', '\\"')
    return (
        f'{{"m":"POST","epoch":{t_ms + 5},'
        f'"ip":"10.{(user_id >> 16) & 255}.{(user_id >> 8) & 255}.{user_id & 255}",'
        f'"time":"{t_ms + 5}","ua":"{ua}","params":{{"stream":"events"}},'
        f'"headers":{{"Accept":"*/*","X-Request-Id":"r{event_id}"}},'
        f'"host":"collector.example.com","srv":"collector-{k % 3}","uri":"/track",'
        f'"refer":"https://ref{k % 9}.example/","body":"{body}"}}')


def ingest_rows(seed, n, first_event_id, distinct=16384):
    """(seq, data, utm_source, sid) for n records with consecutive sequence
    numbers. The envelopes are built as q37 builds them from `events`
    (event id, user, type, time) but with every field; `distinct` of them
    are made and reused cyclically, which keeps generation cheap (nothing
    downstream keys on the payload; every line differs by its sequence
    number)."""
    m = min(n, distinct)
    r = _rng(seed, f"ingest:{first_event_id}")
    users = r.integers(0, 5000, m)
    types = r.integers(0, len(EVENT_TYPES), m)
    ks = r.integers(0, 1 << 30, m)
    t = EPOCH0_MS + np.cumsum(r.integers(1, 10, m)) + first_event_id * 10
    made = []
    for j in range(m):
        eid = first_event_id + j
        u, k = int(users[j]), int(ks[j])
        made.append((ingest_record(eid, u, EVENT_TYPES[types[j]], int(t[j]), k),
                     UTM_SOURCES[k % len(UTM_SOURCES)], cookie_sid(eid, u)))
    return [(seq_str(first_event_id + i + 1),) + made[i % m] for i in range(n)]


def write_chunk(root, rows):
    """One gzip chunk in the seq-named layout `yyyy/MM/dd/<last-seq>.records.log.gz`.
    gzip mtime is pinned to 0 so the bytes depend on the rows alone."""
    d = os.path.join(root, "2024", "03", "04")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, rows[-1][0] + LOG_SUFFIX)
    body = "".join(f"{s} {data}\n" for s, data, _, _ in rows).encode()
    with open(path, "wb") as f:
        f.write(gzip.compress(body, compresslevel=1, mtime=0))
    return path


def gen_ingest(seed, out, drain_chunks, drain_chunk_rows, paced_chunks, paced_chunk_rows,
               spot_rows=8000):
    """Writes the pre-written drain log under out/log and the paced chunks
    under out/paced/<i>/ (moved into the log on schedule by the program's
    generator thread). Returns the expected-output summary for the gate."""
    os.makedirs(out, exist_ok=True)
    n_drain = drain_chunks * drain_chunk_rows
    n_paced = paced_chunks * paced_chunk_rows
    rows = ingest_rows(seed, n_drain + n_paced, 0)
    for c in range(drain_chunks):
        write_chunk(os.path.join(out, "log"), rows[c * drain_chunk_rows:(c + 1) * drain_chunk_rows])
    paced = []
    for c in range(paced_chunks):
        lo = n_drain + c * paced_chunk_rows
        chunk = rows[lo:lo + paced_chunk_rows]
        p = write_chunk(os.path.join(out, "paced", str(c)), chunk)
        paced.append({"file": os.path.relpath(p, out), "last_seq": chunk[-1][0],
                      "rows": len(chunk)})
    # parse spot check: exact UTM and decoded-cookie counts over the
    # first `spot_rows` records
    spot = rows[:min(spot_rows, len(rows))]
    utm = {}
    for _, _, src, _ in spot:
        utm[src] = utm.get(src, 0) + 1
    line_crc = sum(zlib.crc32(f"{s} {d}".encode()) for s, d, _, _ in rows)
    expected = {
        "rows": len(rows), "drain_rows": n_drain, "drain_last_seq": rows[n_drain - 1][0],
        "first_seq": rows[0][0], "last_seq": rows[-1][0], "line_crc_sum": line_crc,
        "spot_rows": len(spot), "spot_last_seq": spot[-1][0], "utm_source_counts": utm,
        "sid_crc_sum": sum(zlib.crc32(sid.encode()) for _, _, _, sid in spot),
        "input_bytes": sum(len(s) + 1 + len(d) + 1 for s, d, _, _ in rows),
        "paced": paced,
    }
    with open(os.path.join(out, "ingest_plan.json"), "w") as f:
        json.dump(expected, f, sort_keys=True)
    return expected


def gen_warm_log(seed, out, chunks, chunk_rows):
    """A short log of its own for the set-up's warm-up streams."""
    rows = ingest_rows(seed + 1, chunks * chunk_rows, 50_000_000)
    for c in range(chunks):
        write_chunk(out, rows[c * chunk_rows:(c + 1) * chunk_rows])


# ------------------------------------------------------------ lake_rw

# one cycle of the closed loop: a copy-on-write upsert, the two merge-on-
# read statements, a compaction (so one every 3 commits) and the three
# kinds of read. Every kind runs within the cycle's first three writes.
CYCLE = ["upsert", "lookup", "mor_delete", "read_version", "mor_upsert", "compact", "scan"]


def _payload(r, n):
    lens = r.integers(16, 65, n)
    letters = r.integers(0, 26, int(lens.sum()))
    chars = (letters + 97).astype(np.uint8).tobytes().decode()
    out, pos = [], 0
    for ln in lens:
        out.append(chars[pos:pos + ln])
        pos += ln
    return out


def gen_lake(seed, out, seed_rows, n_ops):
    """The seeded table contents and a closed-loop operation sequence over
    it, `CYCLE` repeated. Upserts mix updates (recent keys favoured) with
    inserts; merge-on-read statements touch 1-50 keys; reads are point
    lookups, full-snapshot aggregates and time-travel aggregates (1-3
    writes back). Rows are [id, v, seq, payload]. The first cycle is the
    set-up's warm-up, run on a seeded table of its own: the ops after it
    start again from the seeded state.

    The shape of the sequence (each statement's size, each time-travel
    distance) is the same for every seed, because a statement's cost
    depends mostly on how many buckets it touches; the seed picks the
    keys, values and payloads."""
    r = _rng(seed, "lake")
    shape = _rng(0, "lake-shape")
    os.makedirs(out, exist_ok=True)
    seq = 0
    live = {}        # id -> row, the generator's own model (picks keys)
    recent = []      # ids in write order, newest last (may hold duplicates)
    next_id = 0

    def new_rows(ids):
        nonlocal seq
        vs = r.integers(-1_000_000, 1_000_000, len(ids))
        pays = _payload(r, len(ids))
        rows = []
        for i, k in enumerate(ids):
            seq += 1
            rows.append([int(k), int(vs[i]), seq, pays[i]])
        return rows

    def pick_recent(n):
        """n distinct live keys, recent writes favoured (geometric on recency)."""
        got = set()
        tries = 0
        while len(got) < n and tries < n * 20:
            tries += 1
            back = int(r.geometric(1.0 / max(1, min(len(recent), 4000) / 3)))
            k = recent[max(0, len(recent) - back)]
            if k in live:
                got.add(k)
        return sorted(got)

    seed_ids = list(range(seed_rows))
    next_id = seed_rows
    seed_batch = new_rows(seed_ids)
    for row in seed_batch:
        live[row[0]] = row
    recent.extend(seed_ids)
    seeded = (dict(live), list(recent), next_id, seq)

    ops = []
    while len(ops) < n_ops:
        if len(ops) == len(CYCLE):
            live, recent, next_id, seq = dict(seeded[0]), list(seeded[1]), seeded[2], seeded[3]
        # the kinds follow a fixed cycle, so every seed runs the same mix
        kind = CYCLE[len(ops) % len(CYCLE)]
        if kind == "upsert":
            n = int(shape.integers(100, 401))
            upd = pick_recent(int(n * 0.7))
            ins = list(range(next_id, next_id + (n - len(upd))))
            next_id += len(ins)
            rows = new_rows(sorted(set(upd) | set(ins)))
            ops.append({"kind": kind, "rows": rows})
        elif kind == "mor_delete":
            keys = pick_recent(int(shape.integers(1, 51)))
            ops.append({"kind": kind, "keys": keys})
            rows = None
        elif kind == "mor_upsert":
            n = int(shape.integers(1, 51))
            upd = pick_recent(max(1, n // 2))
            ins = list(range(next_id, next_id + (n - len(upd))))
            next_id += len(ins)
            rows = new_rows(sorted(set(upd) | set(ins)))
            ops.append({"kind": kind, "rows": rows})
        elif kind == "lookup":
            if r.random() < 0.8:
                k = pick_recent(1)[0]
            else:
                k = int(r.integers(0, next_id + 100))
            ops.append({"kind": kind, "key": k})
            continue
        elif kind in ("scan", "compact"):
            ops.append({"kind": kind})
            continue
        else:
            ops.append({"kind": kind, "back": int(shape.integers(1, 4))})
            continue
        # a write: keep the generator's model current
        if kind == "mor_delete":
            for k in ops[-1]["keys"]:
                live.pop(k, None)
        else:
            for row in rows:
                live[row[0]] = row
                recent.append(row[0])
    with open(os.path.join(out, "lake_seed.jsonl"), "w") as f:
        for row in seed_batch:
            f.write(json.dumps(row, separators=(",", ":")) + "\n")
    with open(os.path.join(out, "lake_ops.jsonl"), "w") as f:
        for op in ops:
            f.write(json.dumps(op, separators=(",", ":")) + "\n")
    return seed_batch, ops


# ---------------------------------------------------------- query_mix

def _days(r, lo, hi, n):
    return (np.datetime64(lo, "D") + r.integers(0, (np.datetime64(hi, "D") - np.datetime64(lo, "D")).astype(int) + 1, n)).astype("datetime64[us]")


WORDS = ("row the query stream fast spark line small customer group key agg scan slow "
         "table part a merge window order column join vector value hash batch sort data "
         "big filter dup").split()


def gen_tables(seed, out, scale=1.0, only=None):
    """The corpus tables (FIXTURES B) the query_mix queries read, with the
    corpus' schemas and value domains. scale=1.0 is the sf0.01 row count;
    `only` names the tables to write (None: all of them)."""
    os.makedirs(out, exist_ok=True)
    r = _rng(seed, "tables")

    def _table(name, cols):
        if only is None or name in only:
            pq.write_table(pa.table(cols()), f"{out}/{name}.parquet", compression="snappy")

    n_cust, n_supp, n_part = int(1500 * scale), max(10, int(100 * scale)), int(2000 * scale)
    n_ord, n_line, n_ev = int(15000 * scale), int(60000 * scale), int(10000 * scale)
    n_doc, n_emb = max(50, int(500 * scale)), max(50, int(500 * scale))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    def money(lo, hi, n):
        return np.round(r.uniform(lo, hi, n), 2)

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _table("region", lambda: {
        "r_regionkey": pa.array(range(5), i32), "r_name": pa.array(regions, s)})
    _table("nation", lambda: {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    segs = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
    _table("customer", lambda: {
        "c_custkey": pa.array(range(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust), f64),
        "c_mktsegment": pa.array([segs[i] for i in r.integers(0, 5, n_cust)], s)})
    _table("supplier", lambda: {
        "s_suppkey": pa.array(range(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp), f64)})
    adjs = ["blue", "hot", "small", "old", "red", "new", "cold", "large"]
    nouns = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo"]
    types = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
    _table("part", lambda: {
        "p_partkey": pa.array(range(n_part), i64),
        "p_name": pa.array([f"{adjs[a]} {nouns[b]}" for a, b in
                            zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))], s),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n_part)], s),
        "p_type": pa.array([types[t] for t in r.integers(0, 6, n_part)], s),
        "p_size": pa.array(r.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array([900.0 + (i % 1000) / 10 for i in range(n_part)], f64)})
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    _table("orders", lambda: {
        "o_orderkey": pa.array(range(n_ord), i64),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array([("F", "O", "P")[i] for i in r.integers(0, 3, n_ord)], s),
        "o_totalprice": pa.array(money(1000.0, 500000.0, n_ord), f64),
        "o_orderdate": pa.array(_days(r, "1995-01-01", "2001-08-01", n_ord), pa.timestamp("us")),
        "o_orderpriority": pa.array([prios[i] for i in r.integers(0, 5, n_ord)], s)})
    _table("lineitem", lambda: {
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(r.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(r.integers(1, 51, n_line).astype(np.float64), f64),
        "l_extendedprice": pa.array(money(900.0, 105000.0, n_line), f64),
        "l_discount": pa.array(r.integers(0, 11, n_line) / 100.0, f64),
        "l_tax": pa.array(r.integers(0, 9, n_line) / 100.0, f64),
        "l_returnflag": pa.array([("A", "N", "R")[i] for i in r.integers(0, 3, n_line)], s),
        "l_linestatus": pa.array([("F", "O")[i] for i in r.integers(0, 2, n_line)], s),
        "l_shipdate": pa.array(_days(r, "1995-01-02", "2001-11-04", n_line), pa.timestamp("us"))})
    ev_types = ["click", "error", "purchase", "signup", "view"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    gaps = r.integers(1, int(30 * 86400e6 / max(1, n_ev)) * 2, n_ev)
    _table("events", lambda: {
        "event_id": pa.array(range(n_ev), i64),
        "ts": pa.array(t0 + np.cumsum(gaps).astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, max(10, int(150 * scale)), n_ev), i64),
        "event_type": pa.array([ev_types[i] for i in r.integers(0, 5, n_ev)], s),
        "value": pa.array(money(0.01, 500.0, n_ev), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)], s)})
    langs = ["en", "zh", "de", "fr", "es"]
    texts = []
    for i in range(n_doc):
        if i >= 10 and r.random() < 0.05:
            # near-duplicate of an earlier document: one word replaced
            words = texts[int(r.integers(0, i))].split(" ")
            words[int(r.integers(0, len(words)))] = WORDS[int(r.integers(0, len(WORDS)))]
        else:
            words = [WORDS[w] for w in r.integers(0, len(WORDS), int(r.integers(8, 90)))]
        texts.append(" ".join(words))
    _table("documents", lambda: {
        "doc_id": pa.array(range(n_doc), i64),
        "text": pa.array(texts, s),
        "lang": pa.array([langs[i] for i in r.choice(5, n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14])], s),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)})
    emb = r.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _table("embeddings", lambda: {
        "vec_id": pa.array(range(n_emb), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_emb), i32)})
