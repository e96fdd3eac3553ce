#!/usr/bin/env python3
"""Seeded input generator for the benchmark workloads.

The program under test never sees the seed, only the files written here:

  catalog/<table>.parquet   TPC-H-like star schema plus events, documents and
                            embeddings, read by the catalog queries. Built from
                            a fixed seed so the expected result hashes kept in
                            expected_hashes.json stay valid; --seed shuffles the
                            query order instead (see run.py).
  vcut/songs.json           song catalog, profiles, vtuber_songs
  vcut/listing.json         paged creator listing: history plus per-tick uploads
  vcut/transcripts/<tick>/<bvid>.json   transcript documents per cron tick
  vcut/answer_key.json      planted lyric positions and their expected scores
  warehouse/base.json       warehouse base table rows
  warehouse/history.json    small upserts that give the table some versions
  warehouse/ops.json        the op script, in rounds, replayed by the warehouse workload

Usage: gen.py --seed N --out DIR [--workload NAME|all]
"""
import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CATALOG_SEED = 42

# ---------------------------------------------------------------- catalog

WORDS = ("a the row key agg join scan sort hash part line data slow fast big "
         "small value table order query group filter batch merge spark stream "
         "window column vector customer").split()


def _ts_us(rng, lo, hi, n, midnight):
    """n timestamps (microseconds since epoch) in [lo, hi]."""
    lo_us = int(np.datetime64(lo, "us").astype(np.int64))
    hi_us = int(np.datetime64(hi, "us").astype(np.int64))
    if midnight:
        day = 86_400_000_000
        return (rng.integers(lo_us // day, hi_us // day + 1, n) * day).astype(np.int64)
    return rng.integers(lo_us, hi_us, n).astype(np.int64)


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def gen_catalog(out):
    rng = np.random.default_rng(CATALOG_SEED)
    os.makedirs(out, exist_ok=True)
    ts = pa.timestamp("us")
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write(pa.table({"r_regionkey": pa.array(range(5), i32),
                     "r_name": pa.array(regions, s)}), f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), i32),
                     "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
                     "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}),
           f"{out}/nation.parquet")

    n_cust, n_supp, n_part, n_ord, n_li = 150, 10, 200, 1500, 6000
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    _write(pa.table({
        "c_custkey": pa.array(range(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2), f64),
        "c_mktsegment": pa.array([segs[i] for i in rng.integers(0, 5, n_cust)], s),
    }), f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(range(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2), f64),
    }), f"{out}/supplier.parquet")
    adj = ["small", "new", "blue", "old", "red", "cold", "large", "hot"]
    noun = ["bolt", "rod", "anvil", "plate", "ring", "gear", "widget", "gizmo"]
    types = ["ECONOMY", "LARGE", "STANDARD", "PROMO", "MEDIUM", "SMALL"]
    _write(pa.table({
        "p_partkey": pa.array(range(n_part), i64),
        "p_name": pa.array([f"{adj[a]} {noun[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))], s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": pa.array([types[t] for t in rng.integers(0, 6, n_part)], s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array([round(900 + (k % 1000) * 0.1, 2) for k in range(n_part)], f64),
    }), f"{out}/part.parquet")
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    _write(pa.table({
        "o_orderkey": pa.array(range(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array([("O", "F", "P")[i] for i in rng.integers(0, 3, n_ord)], s),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_ord), 2), f64),
        "o_orderdate": pa.array(_ts_us(rng, "1995-01-01", "2001-08-01", n_ord, True), ts),
        "o_orderpriority": pa.array([prios[i] for i in rng.integers(0, 5, n_ord)], s),
    }), f"{out}/orders.parquet")
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64), f64),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, n_li), 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, f64),
        "l_returnflag": pa.array([("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)], s),
        "l_linestatus": pa.array([("O", "F")[i] for i in rng.integers(0, 2, n_li)], s),
        "l_shipdate": pa.array(_ts_us(rng, "1995-01-02", "2001-11-04", n_li, True), ts),
    }), f"{out}/lineitem.parquet")

    n_ev = 1000
    kinds = ["click", "signup", "error", "view", "purchase"]
    _write(pa.table({
        "event_id": pa.array(range(n_ev), i64),
        "ts": pa.array(np.sort(_ts_us(rng, "2024-01-01", "2024-01-31", n_ev, False)), ts),
        "user_id": pa.array(rng.integers(0, 15, n_ev), i64),
        "event_type": pa.array([kinds[i] for i in rng.integers(0, 5, n_ev)], s),
        "value": pa.array(np.round(rng.exponential(40.0, n_ev) + 0.01, 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s),
    }), f"{out}/events.parquet")

    n_doc = 500
    langs = ["en"] * 5 + ["de", "es", "fr", "zh"]
    texts = []
    for i in range(n_doc):
        if i >= 20 and rng.random() < 0.1:
            # near-duplicate of an earlier document: the dedup rows need some
            base = texts[int(rng.integers(0, i))].split()
            base[int(rng.integers(0, len(base)))] = "dup"
            texts.append(" ".join(base))
        else:
            texts.append(" ".join(WORDS[w] for w in rng.integers(0, len(WORDS),
                                                                 int(rng.integers(10, 90)))))
    _write(pa.table({
        "doc_id": pa.array(range(n_doc), i64),
        "text": pa.array(texts, s),
        "lang": pa.array([langs[i] for i in rng.integers(0, len(langs), n_doc)], s),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_doc)], s),
        "n_chars": pa.array([len(t) for t in texts], i64),
    }), f"{out}/documents.parquet")

    n_vec, dim = 500, 64
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0, 1, (10, dim))
    vecs = centers[labels] + rng.normal(0, 0.6, (n_vec, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(range(n_vec), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    }), f"{out}/embeddings.parquet")


# ---------------------------------------------------------------- vcut_cron

# A pool of common CJK characters: transcripts and lyrics are Chinese in the
# reference, and the indel kernel's cost depends on code points, not bytes.
CJK = [chr(c) for c in range(0x4E00, 0x4E00 + 600)]

N_PROFILES = 5
N_SONGS = 300
TICK_PAGES = [1, 1, 1, 2, 2, 2, 2, 3, 3, 3]  # pages of a tick's 10 recordings
PLANTS_PER_TICK = 3
MAX_TICKS = 8


def indel_ratio(a, b):
    """rapidfuzz fuzz.ratio: 100 * (1 - indel_distance / (len a + len b))."""
    la, lb = len(a), len(b)
    if la + lb == 0:
        return 100.0
    prev = [0] * (lb + 1)
    for i in range(1, la + 1):
        cur = [0] * (lb + 1)
        ai = a[i - 1]
        for j in range(1, lb + 1):
            cur[j] = prev[j - 1] + 1 if ai == b[j - 1] else max(prev[j], cur[j - 1])
        prev = cur
    return 100.0 * (1.0 - (la + lb - 2 * prev[lb]) / (la + lb))


def _line(rng, lo, hi):
    return "".join(CJK[i] for i in rng.integers(0, len(CJK), int(rng.integers(lo, hi + 1))))


def _noisy(rng, text, rate):
    """Substitute each character with probability `rate`."""
    return "".join(CJK[int(rng.integers(0, len(CJK)))] if rng.random() < rate else ch
                   for ch in text)


def gen_vcut(out, seed):
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out, exist_ok=True)
    songs = [{"id": i + 1, "lyrics_fragment": "\n".join(
        _line(rng, 6, 12) for _ in range(int(rng.integers(2, 7))))} for i in range(N_SONGS)]
    profiles = [{"id": p + 1, "mid": 1000 + p + 1} for p in range(N_PROFILES)]
    vtuber_songs, vs_id = [], 1
    sung = {p["id"]: [] for p in profiles}
    for sg in songs:
        for pid in sorted(set(int(x) + 1 for x in rng.integers(0, N_PROFILES, int(rng.integers(1, 3))))):
            vtuber_songs.append({"id": vs_id, "song_id": sg["id"], "vtuber_profile_id": pid})
            sung[pid].append((vs_id, sg))
            vs_id += 1
    with open(f"{out}/songs.json", "w") as f:
        json.dump({"songs": songs, "profiles": profiles, "vtuber_songs": vtuber_songs}, f,
                  ensure_ascii=False, sort_keys=True)

    # Recordings: tick -1 is the history (one per creator) ingested during
    # set-up; ticks 0..MAX_TICKS-1 each upload len(TICK_PAGES) new ones.
    # Every tick has the same shape, so ticks cost alike across seeds: page
    # counts are a fixed multiset (1-3 pages a recording) in a seeded order,
    # and PLANTS_PER_TICK of its two-page recordings carry a planted lyric,
    # the first ones above the 40 threshold and the last one below it.
    recordings, key, rec_id = [], [], 1
    t0 = 1_735_660_800  # 2025-01-01 00:00:00 +08:00

    def add(tick, mid, pid, n_pages, plant):
        nonlocal rec_id
        pub = t0 + rec_id * 3600
        day = np.datetime64(pub + 8 * 3600, "s").astype(object)
        title = f"{day.year}年{day.month}月{day.day}日{day.hour}点场 直播回放 {rec_id}"
        bvid = f"BV{rec_id:010d}"
        pages = []
        for _ in range(n_pages):
            n = int(rng.integers(40, 51))
            starts = np.cumsum(rng.uniform(1.0, 6.0, n))
            pages.append([{"start": round(float(st), 3), "text": _line(rng, 4, 12)}
                          for st in starts])
        if plant is not None:
            vs_id_, sg = sung[pid][int(rng.integers(0, len(sung[pid])))]
            lines = sg["lyrics_fragment"].split("\n")
            page = int(rng.integers(0, len(pages)))
            s0 = int(rng.integers(0, len(pages[page]) - len(lines) + 1))
            rate = float(rng.uniform(0.0, 0.3) if plant else rng.uniform(0.7, 0.9))
            noisy = [_noisy(rng, ln, rate) for ln in lines]
            for j, ln in enumerate(noisy):
                pages[page][s0 + j]["text"] = ln
            score = indel_ratio("\n".join(noisy), sg["lyrics_fragment"])
            key.append({"bvid": bvid, "tick": tick, "song_id": sg["id"],
                        "vtuber_song_id": vs_id_, "live_recording_archive_id": rec_id,
                        "page": page + 1, "start": int(np.floor(pages[page][s0]["start"])),
                        "score": round(score, 3), "lyrics": sg["lyrics_fragment"],
                        "expect_found": score >= 55.0})
        recordings.append({"id": rec_id, "bvid": bvid, "title": title, "pubdate": pub,
                           "mid": mid, "tick": tick})
        d = f"{out}/transcripts/{tick if tick >= 0 else 'history'}"
        os.makedirs(d, exist_ok=True)
        with open(f"{d}/{bvid}.json", "w") as f:
            json.dump(pages, f, ensure_ascii=False)
        rec_id += 1

    for p in profiles:
        add(-1, p["mid"], p["id"], 2, True if p["id"] == 1 else None)
    for tick in range(MAX_TICKS):
        planted = 0
        for n_pages in rng.permutation(TICK_PAGES):
            p = profiles[int(rng.integers(0, N_PROFILES))]
            plant = None
            if n_pages == 2 and planted < PLANTS_PER_TICK:
                plant = planted < PLANTS_PER_TICK - 1
                planted += 1
            add(tick, p["mid"], p["id"], int(n_pages), plant)
    with open(f"{out}/listing.json", "w") as f:
        json.dump(recordings, f, ensure_ascii=False, sort_keys=True)
    with open(f"{out}/answer_key.json", "w") as f:
        json.dump(key, f, ensure_ascii=False, sort_keys=True)


# ---------------------------------------------------------------- warehouse

WH_KEYS = 5000
WH_BUCKETS = 32
WH_ROUNDS = 60
# One round of the op script: ~60% reads, ~40% writes, in a seeded order.
# Every round holds the same mix, so any whole number of rounds measures
# the same blend of op kinds whatever the seed.
WH_ROUND = ["lookup", "lookup", "range", "scan", "time_travel", "changes",
            "upsert", "patch", "delete"]


def gen_warehouse(out, seed):
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out, exist_ok=True)
    tags = ["red", "green", "blue", "black", "white"]

    def row(k):
        return {"k": k, "price": round(float(rng.uniform(1, 1000)), 2),
                "qty": int(rng.integers(1, 100)), "tag": tags[int(rng.integers(0, 5))]}

    with open(f"{out}/base.json", "w") as f:
        json.dump([row(k) for k in range(WH_KEYS)], f, sort_keys=True)

    # set-up history: a few small upserts after the base, so the first
    # round's time-travel and change-feed reads have versions to read
    with open(f"{out}/history.json", "w") as f:
        json.dump([[row(int(k)) for k in rng.integers(0, WH_KEYS, 10)] for _ in range(3)],
                  f, sort_keys=True)

    next_key = WH_KEYS

    def hot_key():
        # Zipf over recency: rank 1 is the newest key
        return max(0, next_key - int(rng.zipf(1.3)) % next_key)

    def hot_keys(n):
        ks = set()
        while len(ks) < n:
            ks.add(hot_key())
        return sorted(ks)

    # Op sizes are fixed so that rounds cost alike across seeds; the seed
    # picks keys, values, bands and the order of the round.
    rounds = []
    for r in range(WH_ROUNDS):
        ops = []
        for i in rng.permutation(len(WH_ROUND)):
            kind = WH_ROUND[int(i)]
            if kind == "lookup":
                ops.append({"op": kind, "keys": hot_keys(3)})
            elif kind == "range":
                lo = round(float(rng.uniform(1, 980)), 2)
                ops.append({"op": kind, "lo": lo, "hi": round(lo + 20.0, 2)})
            elif kind in ("time_travel", "changes"):
                ops.append({"op": kind, "back": 2})
            elif kind == "scan":
                ops.append({"op": kind})
            elif kind == "upsert":
                rows = [row(k) for k in hot_keys(7)]
                for _ in range(3):
                    rows.append(row(next_key))
                    next_key += 1
                ops.append({"op": kind, "rows": rows})
            elif kind == "patch":
                ops.append({"op": kind, "rows": [
                    {"k": k, "price": round(float(rng.uniform(1, 1000)), 2)} for k in hot_keys(8)]})
            else:
                lo = int(rng.integers(0, next_key - 5))
                ops.append({"op": kind, "lo": lo, "hi": lo + 2})
        ops.append({"op": "compact"})
        rounds.append(ops)
    with open(f"{out}/ops.json", "w") as f:
        json.dump({"buckets": WH_BUCKETS, "rounds": rounds}, f, sort_keys=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--workload", default="all")
    a = ap.parse_args()
    if a.workload in ("all", "catalog_mix"):
        gen_catalog(f"{a.out}/catalog")
    if a.workload in ("all", "vcut_cron"):
        gen_vcut(f"{a.out}/vcut", a.seed)
    if a.workload in ("all", "warehouse_rw"):
        gen_warehouse(f"{a.out}/warehouse", a.seed)


if __name__ == "__main__":
    main()
