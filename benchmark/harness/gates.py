"""Correctness gates. Each takes what the program produced and what the
harness generated, and returns a list of failures (empty = correct) plus
the number of operations it checked. They run after the timed region."""
import gzip
import json
import math
import os
import zlib

import numpy as np

from . import gen


# ----------------------------------------------------------- query_mix

def canon(v):
    """Canonical form of one value, as the repository's oracle compare
    makes it: -0.0 == 0.0, NaN == NaN, sequences compared element-wise,
    everything else by its string form."""
    if v is None:
        return None
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        return repr(f if f != 0 else 0.0)
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), canon(x)) for k, x in v.items()))
    return str(v)


def canonical_rows(df):
    """Column-order-insensitive multiset of canonical rows: columns are
    taken in name order, rows sorted."""
    cols = sorted(df.columns)
    return cols, sorted((tuple(canon(v) for v in row) for row in df[cols].itertuples(index=False)),
                        key=repr)


def compare(result_df, oracle_df):
    """None when the two frames hold the same rows, else why not."""
    rc, rrows = canonical_rows(result_df)
    oc, orows = canonical_rows(oracle_df)
    if rc != oc:
        return f"columns differ: {rc} vs oracle {oc}"
    if len(rrows) != len(orows):
        return f"{len(rrows)} rows vs oracle {len(orows)}"
    if rrows != orows:
        diff = next((a, b) for a, b in zip(rrows, orows) if a != b)
        return f"values differ, first: {repr(diff)[:300]}"
    return None


def check_queries(tables_dir, results_dir, oracle_sql):
    """Runs each query's DuckDB oracle over the generated tables and
    compares it with the program's result. Returns {name: failure|None}."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")  # it draws on stdout
    for f in sorted(os.listdir(tables_dir)):
        t = f.removesuffix(".parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{f}'")
    out = {}
    for name, sql in oracle_sql.items():
        d = os.path.join(results_dir, name)
        if not os.path.isdir(d):
            out[name] = "no result written"
            continue
        if sql is None:
            out[name] = "no oracle registered"
            continue
        try:
            got = con.execute(f"SELECT * FROM '{d}/*.parquet'").fetchdf()
            want = con.execute(sql).fetchdf()
        except Exception as e:  # a failing read is a failed check, not a crash
            out[name] = f"oracle compare failed: {e}"[:300]
            continue
        out[name] = compare(got, want)
    return out


# ------------------------------------------------------------- ingest

def sink_lines(out_dir):
    """Every line the line-file sink committed (gzip text part files)."""
    lines = []
    for root, dirs, files in os.walk(out_dir):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if f.startswith((".", "_")):
                continue
            with gzip.open(os.path.join(root, f), "rt", encoding="utf-8") as fh:
                lines.extend(fh.read().splitlines())
    return lines


def check_ingest(expected, jvm, lines):
    """Sunk sequence numbers equal the generated set (no loss, no
    duplicates, content intact); the parsed UTM and cookie counts over the
    spot-check records are exact; `/stats` counted every row."""
    fails = []
    n = expected["rows"]
    seqs = [ln[:gen.SEQ_WIDTH] for ln in lines]
    if len(seqs) != n:
        fails.append(f"sink holds {len(seqs)} lines, generated {n}")
    if len(set(seqs)) != len(seqs):
        fails.append(f"{len(seqs) - len(set(seqs))} duplicated sequence numbers in the sink")
    want = {gen.seq_str(i) for i in range(int(expected["first_seq"]), int(expected["last_seq"]) + 1)}
    if set(seqs) != want:
        fails.append(f"sunk sequence set differs: {len(want - set(seqs))} missing, "
                     f"{len(set(seqs) - want)} unexpected")
    if sum(zlib.crc32(ln.encode()) for ln in lines) != expected["line_crc_sum"]:
        fails.append("sunk line contents differ from the generated records")
    spot = jvm["spot"]
    if spot["utm_source_counts"] != expected["utm_source_counts"]:
        fails.append(f"utm_source counts {spot['utm_source_counts']} != {expected['utm_source_counts']}")
    if spot["sid_crc_sum"] != expected["sid_crc_sum"] or spot["rows"] != expected["spot_rows"]:
        fails.append("decoded cookie values differ from the generated ones")
    ingested = json.loads(jvm["stats_final"])["meters"]["events.ingested"]["total"]
    if ingested != n:
        fails.append(f"/stats events.ingested = {ingested}, rows = {n}")
    if jvm.get("query_exception"):
        fails.append(f"stream failed: {jvm['query_exception']}")
    return fails


# ------------------------------------------------------------- lake_rw

class LakeModel:
    """In-memory key -> row model with an incrementally kept fingerprint
    (count, sum of ids, sum of crc32("id|v|seq|payload")), the same one
    the program computes over the table."""

    def __init__(self, rows):
        self.rows, self.n, self.sum_id, self.sum_crc = {}, 0, 0, 0
        self.upsert(rows)

    @staticmethod
    def crc(row):
        return zlib.crc32(f"{row[0]}|{row[1]}|{row[2]}|{row[3]}".encode())

    def delete(self, keys):
        for k in keys:
            old = self.rows.pop(k, None)
            if old is not None:
                self.n -= 1
                self.sum_id -= k
                self.sum_crc -= self.crc(old)

    def upsert(self, rows):
        self.delete([r[0] for r in rows])
        for r in rows:
            self.rows[r[0]] = list(r)
            self.n += 1
            self.sum_id += r[0]
            self.sum_crc += self.crc(r)

    def fp(self):
        return [self.n, self.sum_id, self.sum_crc]


WRITES = ("upsert", "mor_upsert", "mor_delete", "compact")


def check_lake(seed_rows, ops, jvm, kinds):
    """Replays the executed ops on the model: the set-up's warm-up ops on
    a model of their own table, then the measured ones, each from the
    seeded state. The snapshot fingerprint after every write, every point
    lookup, every snapshot aggregate and every sampled time-travel read
    must equal the model (at that version), and so must the final
    snapshot. Every kind in `kinds` must have run in the measured loop."""
    fails = []
    missing = sorted(set(kinds) - {rec["kind"] for rec in jvm["ops"]})
    if missing:
        fails.append(f"the measured loop never ran: {', '.join(missing)}")
    seed = jvm["seed"]
    if seed["fp"] != LakeModel(seed_rows).fp():
        fails.append(f"seeded table {seed['fp']} != model {LakeModel(seed_rows).fp()}")
    _replay(LakeModel(seed_rows), seed["version"], ops, jvm["warm"], fails)
    model = _replay(LakeModel(seed_rows), seed["version"], ops, jvm["ops"], fails)
    if jvm["final_fp"] != model.fp():
        fails.append(f"final snapshot {jvm['final_fp']} != model {model.fp()}")
    return fails


def _replay(model, version, ops, recs, fails):
    """Checks one table's op records against `model`, which starts at the
    seeded state committed as `version`; returns the model at the end."""
    at_version = {version: model.fp()}
    for rec in recs:
        op = ops[rec["i"]]
        kind = op["kind"]
        where = f"op {rec['i']} ({kind})"
        if kind in ("upsert", "mor_upsert"):
            model.upsert(op["rows"])
        elif kind == "mor_delete":
            model.delete(op["keys"])
        if kind in WRITES:
            if rec["fp"] != model.fp():
                fails.append(f"{where}: snapshot {rec['fp']} != model {model.fp()}")
            if rec["version"] > version:
                version = rec["version"]
                at_version[version] = model.fp()
        elif kind == "lookup":
            row = model.rows.get(op["key"])
            want = [row] if row is not None else []
            if rec["result"] != want:
                fails.append(f"{where}: key {op['key']} read {rec['result']} != model {want}")
        elif kind == "scan":
            if rec["result"] != model.fp():
                fails.append(f"{where}: aggregate {rec['result']} != model {model.fp()}")
        elif kind == "read_version":
            v = rec["read_version"]
            if v not in at_version:
                fails.append(f"{where}: version {v} was never observed as a commit")
            elif rec["result"] != at_version[v]:
                fails.append(f"{where}: version {v} reads {rec['result']} != model {at_version[v]}")
    return model
