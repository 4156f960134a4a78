#!/usr/bin/env python3
"""Seeded input generator for the pipeline benchmark.

    python3 perfbench/gen.py <workload> <seed> <out_dir> [--size full|tiny]

Writes everything a workload's program run receives, plus `expected.json`
with the generator's own counts (what the correctness checks compare
against). The same (workload, seed, size) always yields byte-identical
files; nothing here reads the program's code or output.

  split_backlog  landing/ GZIP-JSON DMS envelopes for the reference's 16
                 dms_sample tables over many Firehose-style objects: ~1%
                 control records (data null), a choice-typed column
                 (ticket_price is a JSON number in even objects and a JSON
                 string in odd ones) and a drifting table (person gains
                 middle_name half-way through the backlog); sf/ with the
                 events, orders and documents tables the catalog leg's
                 SparkEntry queries read.
  cdc_pipeline   backlog.jsonl for the Kinesis-shaped source (I/U/D over
                 skewed keys, intra-batch multi-versions, ~1% controls,
                 ~2% contract violations) and warmup.jsonl, its first
                 two micro-batches, for the traced run's local[1]
                 baseline.
  store_cdc      base embeddings/documents (parquet), one ANN and one
                 signature CDC batch per round (I/U/D with re-delivered
                 updates), the probe sets, and the net corpus folded
                 here, independently of the program.
"""
import gzip
import io
import itertools
import json
import os
import random
import struct
import sys

import pyarrow as pa
import pyarrow.parquet as pq

# The reference's dms_sample tables and a payload shape per table. A field
# name has one JSON type across all tables, because the landed backlog is
# inferred as one union struct.
TABLES = {
    "person": ["id", "full_name", "last_name", "first_name"],
    "seat_type": ["id", "name", "description", "relative_quality"],
    "sporting_event": ["id", "sport_type_name", "home_team_id",
                       "away_team_id", "location_id", "start_date"],
    "sporting_event_ticket": ["id", "sporting_event_id", "sport_location_id",
                              "seat_level", "seat_section", "seat_row",
                              "seat", "ticketholder_id", "ticket_price"],
    "sport_type": ["id", "name", "description"],
    "sport_location": ["id", "name", "city", "seating_capacity", "levels"],
    "sport_team": ["id", "name", "abbreviated_name", "home_field_id",
                   "sport_type_name"],
    "sport_division": ["id", "sport_type_name", "short_name", "long_name"],
    "sport_league": ["id", "sport_type_name", "short_name", "long_name"],
    "ticket_purchase_hist": ["id", "sporting_event_ticket_id",
                             "purchased_by_id", "transaction_date",
                             "purchase_price"],
    "player": ["id", "sport_team_id", "last_name", "first_name",
               "full_name"],
    "name_data": ["id", "name_type", "name"],
    "mlb_data": ["id", "mlb_name", "mlb_pos", "mlb_team", "birth_year"],
    "nfl_data": ["id", "position", "name", "team"],
    "nfl_stadium_data": ["id", "stadium", "seating_capacity", "location",
                         "surface", "opened"],
    "seat": ["id", "sport_location_id", "seat_level", "seat_section",
             "seat_row", "seat"],
}
INT_FIELDS = {"id", "home_team_id", "away_team_id", "location_id",
              "sporting_event_id", "sport_location_id", "seat_level",
              "ticketholder_id", "relative_quality", "seating_capacity",
              "levels", "home_field_id", "sporting_event_ticket_id",
              "purchased_by_id", "sport_team_id", "birth_year", "opened"}
WORDS = ("stream split table glue spark kinesis shard merge parquet crawl "
         "catalog athena record schema batch commit window key value row "
         "column filter join stadium ticket season league team player "
         "seat level section city field north south east west").split()

SIZES = {
    "full": {"split_objects": 48, "split_records": 48000,
             "sf_events": 20000, "sf_orders": 6000, "sf_docs": 400,
             "cdc_per_shard": 2500,
             "store_vecs": 400, "store_docs": 400, "store_rounds": 3},
    "tiny": {"split_objects": 6, "split_records": 1500,
             "sf_events": 2000, "sf_orders": 600, "sf_docs": 60,
             "cdc_per_shard": 25,
             "store_vecs": 200, "store_docs": 200, "store_rounds": 2},
}
SHARDS = 4
CDC_TABLES = list(TABLES)
DIM = 64
BASE_TS = 1573639200  # 2019-11-13T10:00:00Z, the reference sample's hour


def ts(i):
    """ISO-8601 microsecond UTC string, one second per record."""
    t = BASE_TS + i
    h, rem = divmod(t % 86400, 3600)
    m, s = divmod(rem, 60)
    # 1573603200 is 2019-11-13T00:00:00Z; backlogs stay within a few days
    d = 13 + (t - 1573603200) // 86400
    return f"2019-11-{d:02d}T{h:02d}:{m:02d}:{s:02d}.000000Z"


def dumps(obj):
    return json.dumps(obj, separators=(", ", ": "))


def envelope(data, table, op, i, record_type="data"):
    return dumps({"data": data, "metadata": {
        "timestamp": ts(i), "record-type": record_type, "operation": op,
        "partition-key-type": "primary-key", "schema-name": "dms_sample",
        "table-name": table}})


def value(rng, field, key):
    if field == "id":
        return key
    if field in INT_FIELDS:
        return rng.randrange(1, 100)
    if field in ("ticket_price", "purchase_price"):
        return round(rng.uniform(10, 500), 2)
    return " ".join(rng.choice(WORDS) for _ in range(rng.randrange(1, 4)))


def write_json(path, obj):
    with open(path, "w") as f:
        json.dump(obj, f, sort_keys=True, indent=1)


def gzip_bytes(text):
    buf = io.BytesIO()
    # mtime=0 keeps the gzip header, and so the bytes, seed-determined
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as g:
        g.write(text.encode("utf-8"))
    return buf.getvalue()


def gen_split(seed, out, size):
    rng = random.Random(seed)
    n_obj, n = size["split_objects"], size["split_records"]
    tables = list(TABLES)
    weights = [6 if t in ("sporting_event_ticket", "ticket_purchase_hist")
               else 3 if t == "person" else 1 for t in tables]
    next_id = {t: 0 for t in tables}
    counts = {t: 0 for t in tables}
    controls = 0
    lines_per_obj = [[] for _ in range(n_obj)]
    person_ids, hist_buyers = set(), []
    level_counts, price_cents, middle = {}, 0, 0
    for i in range(n):
        o = i * n_obj // n
        if rng.random() < 0.01:
            controls += 1
            t = rng.choice(tables)
            lines_per_obj[o].append(envelope(
                None, t, rng.choice(["create-table", "add-column"]), i,
                "control"))
            continue
        t = rng.choices(tables, weights)[0]
        key = next_id[t]
        next_id[t] += 1
        counts[t] += 1
        data = {f: value(rng, f, key) for f in TABLES[t]}
        if t == "person":
            person_ids.add(key)
            if o >= n_obj // 2:  # drift: the column appears mid-backlog
                data["middle_name"] = rng.choice(WORDS)
                middle += 1
        elif t == "sporting_event_ticket":
            price_cents += round(data["ticket_price"] * 100)
            if o % 2 == 1:  # choice: same column, string-typed objects
                data["ticket_price"] = f"{data['ticket_price']:.2f}"
            if data["sporting_event_id"] < 50:
                lvl = data["seat_level"]
                level_counts[lvl] = level_counts.get(lvl, 0) + 1
        elif t == "ticket_purchase_hist":
            data["purchased_by_id"] = rng.randrange(0, max(1, n // 8))
            hist_buyers.append(data["purchased_by_id"])
        lines_per_obj[o].append(envelope(data, t, "load", i))
    land = os.path.join(out, "landing")
    for o, lines in enumerate(lines_per_obj):
        d = os.path.join(land, "2019", "11", "13", f"{10 + o * 12 // n_obj:02d}")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(
                d, f"dms-stream-1-2019-11-13-{o:05d}.json.gz"), "wb") as f:
            f.write(gzip_bytes("\n".join(lines) + "\n"))
    expected = gen_sf(rng, os.path.join(out, "sf"), size)
    write_json(os.path.join(out, "expected.json"), dict(expected, **{
        "n_input": n, "n_controls": controls, "n_kept": n - controls,
        "table_counts": counts,
        "probe_person_count": counts["person"],
        "probe_level_counts": {str(k): v for k, v in
                               sorted(level_counts.items())},
        "probe_join_count": sum(1 for b in hist_buyers if b in person_ids),
        "ticket_price_cents": price_cents,
        "person_middle_name": middle,
    }))


EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
EPOCH_2024_US = 1704067200 * 10**6


def gen_sf(rng, out, size):
    """The sf tables the catalog leg's SparkEntry queries read (events,
    orders, documents, in the sf dir layout), and what each query must
    return: q11 per-type aggregates, q12 click rows, q05/q51 top 3 orders
    per customer, q21 the planted duplicate documents."""
    os.makedirs(out)
    n = size["sf_events"]
    ev = {"event_id": [], "ts": [], "user_id": [], "event_type": [],
          "value": [], "props": []}
    q11, clicks = {}, [0, 0, 0]
    for i in range(n):
        t = rng.choice(EVENT_TYPES)
        us = EPOCH_2024_US + i * 3 * 10**6 + rng.randrange(10**6)
        k = rng.randrange(1000) if rng.random() >= 0.1 else None
        for c, v in zip(ev, (i, us, rng.randrange(500), t,
                             rng.randrange(100000) / 100,
                             None if k is None else dumps({"k": k}))):
            ev[c].append(v)
        a = q11.setdefault(t, [0, None, None, None])
        a[0] += 1
        if k is not None:
            a[1] = (a[1] or 0) + k
            a[2] = k if a[2] is None else min(a[2], k)
            a[3] = k if a[3] is None else max(a[3], k)
        if t == "click" and k is not None:
            clicks[0] += 1
            clicks[1] += i
            clicks[2] += us // (60 * 10**6)
    write_parquet(os.path.join(out, "events.parquet"), list(ev.values()),
                  pa.schema([("event_id", pa.int64()),
                             ("ts", pa.timestamp("us")),
                             ("user_id", pa.int64()),
                             ("event_type", pa.string()),
                             ("value", pa.float64()),
                             ("props", pa.string())]))
    n = size["sf_orders"]
    cust = [rng.randrange(n // 3) for _ in range(n)]
    price = [rng.randrange(100000, 50000000) / 100 for _ in range(n)]
    write_parquet(os.path.join(out, "orders.parquet"),
                  [list(range(n)), cust, price],
                  pa.schema([("o_orderkey", pa.int64()),
                             ("o_custkey", pa.int64()),
                             ("o_totalprice", pa.float64())]))
    per_cust = {}
    for o in sorted(range(n), key=lambda o: (-price[o], o)):
        ranked = per_cust.setdefault(cust[o], [])
        if len(ranked) < 3:
            ranked.append(o)
    top3 = sorted(([c, o, r + 1] for c, os_ in per_cust.items()
                   for r, o in enumerate(os_)),
                  key=lambda x: (x[0], x[2]))  # the queries' ORDER BY
    n = size["sf_docs"]
    docs = [doc_text(rng) for _ in range(n)]
    dups = [[k, n - 1 - k] for k in range(max(2, n // 40))]
    for a, b in dups:
        docs[b] = docs[a]
    write_parquet(os.path.join(out, "documents.parquet"),
                  [list(range(n)), docs], DOC_SCHEMA)
    return {"q11": {t: a for t, a in sorted(q11.items())},
            "q12": clicks, "top3": top3, "q21": dups}


def _i32(x):
    x &= 0xFFFFFFFF
    return x - (1 << 32) if x & 0x80000000 else x


def _rotl(x, r):
    x &= 0xFFFFFFFF
    return ((x << r) | (x >> (32 - r))) & 0xFFFFFFFF


def shard_of(key, shards=SHARDS):
    """The Kinesis-shaped source's routing of a partition key:
    floorMod(scala.util.hashing.MurmurHash3.stringHash(key, 42), shards)."""
    c1, c2 = 0xcc9e2d51, 0x1b873593

    def mix_k(k):
        return (_rotl(k * c1, 15) * c2) & 0xFFFFFFFF

    h = 42
    i = 0
    while i + 1 < len(key):
        h ^= mix_k((ord(key[i]) << 16) + ord(key[i + 1]))
        h = (_rotl(h, 13) * 5 + 0xe6546b64) & 0xFFFFFFFF
        i += 2
    if i < len(key):
        h ^= mix_k(ord(key[i]))
    h ^= len(key)
    h ^= h >> 16
    h = (h * 0x85ebca6b) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xc2b2ae35) & 0xFFFFFFFF
    h ^= h >> 16
    return _i32(h) % shards


def cdc_stream(rng, n, keys):
    """Envelope lines plus the generator's own latest-per-key fold and
    per-(table, operation) counts over the clean envelopes. Record i is
    keyed to shard i mod 4, so every shard holds the same number of
    records and every micro-batch is full; within a shard, keys are
    Zipf-skewed over keys / 4 ids, so snapshots keep growing while hot
    keys churn."""
    lines, latest, ops = [], {}, {}
    def keys_by_shard(candidates, per_shard):
        out = [[] for _ in range(SHARDS)]
        for k in candidates:
            s = out[shard_of(str(k))]
            if len(s) < per_shard:
                s.append(k)
            if all(len(x) == per_shard for x in out):
                return out
    per_shard = max(1, keys // SHARDS)
    by_shard = keys_by_shard(itertools.count(0), per_shard)
    neg_by_shard = keys_by_shard(itertools.count(-1, -1), min(per_shard, 64))
    cum = [list(itertools.accumulate(1.0 / (j + 1) for j in range(len(ks))))
           for ks in by_shard]
    for i in range(n):
        t = rng.choice(CDC_TABLES)
        s = i % SHARDS
        if rng.random() < 0.04:
            # a control record has no ID, so the source keys it by the
            # whole line; keep it only where that lands on shard s (~1%)
            line = envelope(None, t, "load", i, "control")
            if shard_of(line) == s:
                lines.append(line)
                ops[(t, "load")] = ops.get((t, "load"), 0) + 1
                continue
        op = rng.choices(["insert", "update", "delete"], [5, 4, 1])[0]
        bad = rng.random() < 0.02  # violates the valid_id contract
        key = rng.choice(neg_by_shard[s]) if bad else \
            rng.choices(by_shard[s], cum_weights=cum[s])[0]
        data = {"ID": key, "val": f"v{i}",
                "bal": rng.randrange(0, 100000) / 4}
        lines.append(envelope(data, t, op, i))
        if bad:
            continue
        ops[(t, op)] = ops.get((t, op), 0) + 1
        latest[(t, key)] = None if op == "delete" else [data["val"],
                                                        data["bal"]]
    snapshot = {t: {} for t in CDC_TABLES}
    for (t, k), v in latest.items():
        if v is not None:
            snapshot[t][str(k)] = v
    return lines, snapshot, [[t, o, c] for (t, o), c in sorted(ops.items())]


def gen_cdc(seed, out, size, seconds):
    rng = random.Random(seed)
    per_batch = SHARDS * size["cdc_per_shard"]
    # one micro-batch per 4 s of run time, at least 5 (the first is the
    # warm-up); the run drains the whole backlog, so the input size is
    # fixed by (seed, seconds). Keys: n / 4 ids, as in PipelineDemo.
    n = per_batch * max(5, seconds // 4)
    lines, snapshot, ops = cdc_stream(rng, n, n // 4)
    # record i sits on shard i mod 4, so the first 2 * per_batch lines
    # are the stream's first two micro-batches: the local[1] baseline
    # replays them on fresh state
    for name, ls in (("backlog.jsonl", lines),
                     ("warmup.jsonl", lines[:2 * per_batch])):
        with open(os.path.join(out, name), "w") as f:
            f.write("\n".join(ls) + "\n")
    write_json(os.path.join(out, "expected.json"), {
        "n_input": len(lines), "per_shard": size["cdc_per_shard"],
        "snapshot": snapshot, "op_counts": ops})


def unit_vec(rng, center=None):
    v = [rng.gauss(0, 1) for _ in range(DIM)]
    if center is not None:
        v = [c * 3 + x for c, x in zip(center, v)]
    return v


def doc_text(rng):
    # random-letter words: distinct docs share few shingles, so a probe
    # matches only the doc it was made from
    return " ".join(
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz")
                for _ in range(rng.randrange(3, 9)))
        for _ in range(rng.randrange(20, 60)))


def write_parquet(path, cols, schema):
    pq.write_table(pa.table(cols, schema=schema), path,
                   compression="snappy")


VEC_SCHEMA = pa.schema([("vec_id", pa.int64()),
                        ("embedding", pa.list_(pa.float32()))])
DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
VEC_CDC = pa.schema([("vec_id", pa.int64()),
                     ("embedding", pa.list_(pa.float32())),
                     ("op", pa.string()), ("seq", pa.int64())])
DOC_CDC = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                     ("op", pa.string()), ("seq", pa.int64())])


def f32(v):
    """Round through float32 so the net corpus equals what parquet holds."""
    return [struct.unpack("f", struct.pack("f", x))[0] for x in v]


def cdc_rounds(rng, base, rounds, make, fresh_base):
    """Per round: inserts of fresh ids, updates (some twice in the batch:
    an intra-batch multi-version), deletes, and a re-delivery of one of
    the previous round's updates with its original seq and payload."""
    live = dict(base)
    batches, seq, next_id = [], 1, fresh_base
    prev_upd = None
    for _ in range(rounds):
        rows, touched = [], set()
        n = max(4, len(base) // 20)
        for _ in range(n):
            rows.append((next_id, make(rng), "I", seq))
            live[next_id] = rows[-1][1]
            touched.add(next_id)
            next_id += 1
            seq += 1
        cands = sorted(k for k in live if k not in touched)
        picks = rng.sample(cands, min(len(cands), 2 * n))
        upd_rows = []
        for k in picks[:n]:
            rows.append((k, make(rng), "U", seq))
            seq += 1
            if rng.random() < 0.2:
                rows.append((k, make(rng), "U", seq))
                seq += 1
            live[k] = rows[-1][1]
            upd_rows.append(rows[-1])
            touched.add(k)
        for k in picks[n:]:
            rows.append((k, None, "D", seq))
            seq += 1
            del live[k]
            touched.add(k)
        if prev_upd is not None and prev_upd[0] in live \
                and prev_upd[0] not in touched \
                and live[prev_upd[0]] == prev_upd[1]:
            rows.append(prev_upd)
        prev_upd = upd_rows[0] if upd_rows else None
        batches.append(rows)
    return batches, live


def gen_store(seed, out, size, seconds):
    rng = random.Random(seed)
    rounds = max(size["store_rounds"], seconds // 8)
    centers = [unit_vec(rng) for _ in range(8)]
    vecs = {i: f32(unit_vec(rng, centers[i % 8]))
            for i in range(size["store_vecs"])}
    docs = {i: doc_text(rng) for i in range(size["store_docs"])}
    vbatches, vnet = cdc_rounds(
        rng, vecs, rounds, lambda r: f32(unit_vec(r, r.choice(centers))),
        1000000)
    dbatches, dnet = cdc_rounds(rng, docs, rounds, doc_text, 1000000)
    os.makedirs(os.path.join(out, "ann_cdc"))
    os.makedirs(os.path.join(out, "sig_cdc"))
    ids = sorted(vecs)
    write_parquet(os.path.join(out, "embeddings.parquet"),
                  [ids, [vecs[i] for i in ids]], VEC_SCHEMA)
    ids = sorted(docs)
    write_parquet(os.path.join(out, "documents.parquet"),
                  [ids, [docs[i] for i in ids]], DOC_SCHEMA)
    for r, rows in enumerate(vbatches):
        write_parquet(os.path.join(out, "ann_cdc", f"{r:03d}.parquet"),
                      [list(c) for c in zip(*rows)], VEC_CDC)
    for r, rows in enumerate(dbatches):
        write_parquet(os.path.join(out, "sig_cdc", f"{r:03d}.parquet"),
                      [list(c) for c in zip(*rows)], DOC_CDC)
    ids = sorted(vnet)
    write_parquet(os.path.join(out, "net_embeddings.parquet"),
                  [ids, [vnet[i] for i in ids]], VEC_SCHEMA)
    ids = sorted(dnet)
    write_parquet(os.path.join(out, "net_documents.parquet"),
                  [ids, [dnet[i] for i in ids]], DOC_SCHEMA)
    # probes: live vectors as ANN queries; for MinHash, the text of a
    # deleted doc (must never match it) and of a live doc plus a tail
    # (must match it)
    deleted = sorted(set(docs) - set(dnet))
    live_doc = sorted(dnet)[len(dnet) // 2]
    probes = [(9000001, docs[deleted[0]] + " tail"),
              (9000002, dnet[live_doc] + " tail")]
    write_parquet(os.path.join(out, "sig_probes.parquet"),
                  [[p[0] for p in probes], [p[1] for p in probes]],
                  DOC_SCHEMA)
    qids = sorted(vnet)[:8]
    write_parquet(os.path.join(out, "ann_probes.parquet"),
                  [qids, [vnet[i] for i in qids]], VEC_SCHEMA)
    write_json(os.path.join(out, "expected.json"), {
        "rounds": rounds,
        "cdc_events": sum(len(b) for b in vbatches + dbatches),
        "deleted_probe_doc": deleted[0], "live_probe_doc": live_doc,
        "net_vecs": len(vnet), "net_docs": len(dnet)})


def generate(workload, seed, out, size="full", seconds=10):
    os.makedirs(out, exist_ok=True)
    sz = SIZES[size]
    if workload == "split_backlog":
        gen_split(seed, out, sz)
    elif workload == "cdc_pipeline":
        gen_cdc(seed, out, sz, seconds)
    elif workload == "store_cdc":
        gen_store(seed, out, sz, seconds)
    else:
        raise SystemExit(f"unknown workload: {workload}")


if __name__ == "__main__":
    args = sys.argv[1:]
    size = "full"
    if "--size" in args:
        i = args.index("--size")
        size = args[i + 1]
        del args[i:i + 2]
    if len(args) != 3:
        raise SystemExit(__doc__)
    generate(args[0], int(args[1]), args[2], size)
