"""Seeded input generators for the graft benchmark workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical inputs. The program under test only ever sees the
files written here; the expectations the checks need (probe keys,
range aggregates, planted clusters, exact top-k) are written next to
them under ``truth/``.

    python3 perfbench/gen.py --workload cdc_upsert --seed 1 --out DIR
"""

import argparse
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = np.datetime64("1970-01-01", "D")

# Sizes. One run (set-up, the timed closed loop, checks) stays near
# 40 s on a 4-core host; README.md quotes the larger anchors they
# were scaled down from.
BACKFILL = dict(rows=100_000, days=40, start="2024-01-01", resync_days=20,
                dup_rate=0.02, garbage_rate=0.005, update_rate=0.2,
                insert_rate=0.05, files=6, row_group=4096, probes=100)
CDC = dict(rows=80_000, batches=48, batch_share=0.005, d_share=0.10,
           i_share=0.30, twice_share=0.05, probes=100)
CORPUS = dict(docs=2000, vocab=4000, zipf=1.15, min_words=80, max_words=120,
              planted_share=0.10, vectors=8_000, dim=64, centers=24,
              queries=256, k=10)


def write(table, path, row_group=None):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=row_group, compression="snappy")


def write_json(obj, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(obj, f, sort_keys=True)


def sk_of(orderkeys, linenumbers):
    """T1 surrogate key: md5(concat(cast(orderkey), cast(linenumber)))."""
    return [hashlib.md5(f"{o}{l}".encode()).hexdigest()
            for o, l in zip(orderkeys.tolist(), linenumbers.tolist())]


def mix_of(orderkey, linenumber, version):
    return (orderkey * 7919 + linenumber * 104729 + version * 15485863) % 1_000_003


def partkey_of(orderkey, linenumber, version):
    return mix_of(orderkey, linenumber, version) % 200_000 + 1


def lineitem_payload(orderkey, linenumber, shipday, version):
    """Lineitem-shaped columns, a pure function of (key, version):
    two deliveries of one row are identical, and `version` varies the
    mutable fields so an update is a real content change."""
    mix = mix_of(orderkey, linenumber, version)
    qty = (mix % 50 + 1).astype(np.float64)
    price = np.round(qty * (900.0 + (mix % 10_000) / 10.0), 2)
    flags = np.array(["A", "N", "R"])
    modes = np.array(["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"])
    instr = np.array(["COLLECT COD", "DELIVER IN PERSON", "NONE", "TAKE BACK RETURN"])
    words = np.array(["quick", "final", "ironic", "pending", "bold", "silent",
                      "express", "regular", "careful", "furious", "even", "blithe"])
    w = (mix[:, None] // np.array([1, 12, 144, 1728])) % len(words)
    comment = [" ".join(r) for r in words[w].tolist()]
    return {
        "l_orderkey": pa.array(orderkey, pa.int64()),
        "l_partkey": pa.array(partkey_of(orderkey, linenumber, version), pa.int64()),
        "l_suppkey": pa.array((orderkey * 31 + linenumber) % 10_000 + 1, pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": pa.array(price, pa.float64()),
        "l_discount": pa.array((mix % 11) / 100.0, pa.float64()),
        "l_tax": pa.array((mix % 9) / 100.0, pa.float64()),
        "l_returnflag": pa.array(flags[mix % 3]),
        "l_linestatus": pa.array(np.where(version > 0, "F", "O")),
        "l_shipdate": pa.array((EPOCH + shipday).astype("datetime64[D]")),
        "l_commitdate": pa.array((EPOCH + shipday + (mix % 30) - 15).astype("datetime64[D]")),
        "l_receiptdate": pa.array((EPOCH + shipday + (mix % 20) + 1 + version).astype("datetime64[D]")),
        "l_shipinstruct": pa.array(instr[mix % 4]),
        "l_shipmode": pa.array(modes[mix % 7]),
        "l_comment": pa.array(comment),
    }


def orders_layout(rng, n_rows, first_orderkey=1):
    """(orderkey, linenumber) for n_rows lines, 1-7 lines per order."""
    lines = rng.integers(1, 8, size=n_rows)  # over-provisioned
    orderkey = np.repeat(np.arange(first_orderkey, first_orderkey + n_rows), lines)[:n_rows]
    starts = np.r_[0, np.flatnonzero(np.diff(orderkey)) + 1]
    linenumber = np.arange(n_rows) - np.repeat(starts, np.diff(np.r_[starts, n_rows])) + 1
    return orderkey.astype(np.int64), linenumber.astype(np.int64)


def local_disorder(rng, n, window=256):
    """A permutation that keeps rows near their sorted position: the
    source serves ranges the way an index on the partition column
    would, with seeded jitter inside each window."""
    return np.argsort(np.arange(n) + rng.uniform(0, window, size=n), kind="stable")


def gen_backfill(seed, out):
    p = BACKFILL
    rng = np.random.default_rng(seed)
    n = p["rows"]
    start = (np.datetime64(p["start"]) - EPOCH).astype(np.int64)
    end = start + p["days"] - 1
    window_start = end - p["resync_days"] + 1

    orderkey, linenumber = orders_layout(rng, n)
    shipday = np.sort(rng.integers(start, end + 1, size=n))
    # orders ship on one day: take each order's first line's day
    first = np.r_[True, orderkey[1:] != orderkey[:-1]]
    shipday = shipday[np.flatnonzero(first)][np.cumsum(first) - 1]
    version = np.zeros(n, dtype=np.int64)

    def assemble(ok, ln, sd, ver, garbage_mask):
        cols = lineitem_payload(ok, ln, sd, ver)
        # garbage-year artefacts (years 0001-0009) in a non-partition
        # date column: T3 repairs them to NULL at promote
        commit = np.asarray(cols["l_commitdate"].to_numpy(zero_copy_only=False))
        garbage_days = (np.datetime64("0005-06-01") - EPOCH).astype(np.int64)
        commit = np.where(garbage_mask, EPOCH + garbage_days, commit).astype("datetime64[D]")
        cols["l_commitdate"] = pa.array(commit)
        return cols

    garbage = rng.uniform(size=n) < p["garbage_rate"]

    def source(ok, ln, sd, ver, gmask, path):
        # planted exact re-deliveries of the same (orderkey, linenumber)
        dups = np.flatnonzero(rng.uniform(size=len(ok)) < p["dup_rate"])
        idx = np.sort(np.r_[np.arange(len(ok)), dups], kind="stable")
        idx = idx[local_disorder(rng, len(idx))]
        cols = assemble(ok[idx], ln[idx], sd[idx], ver[idx], gmask[idx])
        table = pa.table(cols)
        per = -(-len(idx) // p["files"])
        for f in range(p["files"]):
            write(table.slice(f * per, per), f"{path}/part-{f:03d}.parquet", p["row_group"])
        return len(idx), len(dups)

    v1_rows, v1_dups = source(orderkey, linenumber, shipday, version, garbage, f"{out}/source_v1")

    # v2: the operational source one month later -- rows in the
    # trailing window were updated or newly inserted
    in_window = shipday >= window_start
    upd = in_window & (rng.uniform(size=n) < p["update_rate"])
    version2 = version + upd
    n_new = int(in_window.sum() * p["insert_rate"])
    new_ok, new_ln = orders_layout(rng, n_new, first_orderkey=int(orderkey.max()) + 1)
    new_sd = np.sort(rng.integers(window_start, end + 1, size=n_new))
    first = np.r_[True, new_ok[1:] != new_ok[:-1]]
    new_sd = new_sd[np.flatnonzero(first)][np.cumsum(first) - 1]
    ok2 = np.r_[orderkey, new_ok]
    ln2 = np.r_[linenumber, new_ln]
    sd2 = np.r_[shipday, new_sd]
    ver2 = np.r_[version2, np.zeros(n_new, dtype=np.int64)]
    g2 = np.r_[garbage, np.zeros(n_new, dtype=bool)]
    order = np.argsort(sd2, kind="stable")
    ok2, ln2, sd2, ver2, g2 = ok2[order], ln2[order], sd2[order], ver2[order], g2[order]
    v2_rows, _ = source(ok2, ln2, sd2, ver2, g2, f"{out}/source_v2")

    # read probes against the final TRUSTED state (= distinct v2)
    probes = read_probes(rng, ok2, ln2, partkey_of(ok2, ln2, ver2), p["probes"])
    iso = lambda d: str(EPOCH + d)
    write_json({
        "source_rows": v1_rows, "source_dups": v1_dups, "distinct_keys": n,
        "resync_source_rows": v2_rows, "final_keys": len(ok2),
        "start": iso(start), "end": iso(end), "resync_start": iso(window_start),
        "estimated_rows": n, "updated_rows": int(upd.sum()), "inserted_rows": n_new,
        "probes": [probes],
    }, f"{out}/truth/backfill.json")


def read_probes(rng, orderkey, linenumber, partkey, n_probe):
    """~n_probe sk point lookups (90% live keys, 10% absent) and one
    l_orderkey range covering ~1% of the keys, with their expected
    answers over the given live state."""
    live = rng.choice(len(orderkey), size=int(n_probe * 0.9), replace=False)
    absent_ok = rng.integers(10**9, 2 * 10**9, size=n_probe - len(live))
    ok = np.r_[orderkey[live], absent_ok]
    ln = np.r_[linenumber[live], np.ones(len(absent_ok), dtype=np.int64)]
    hi_key = int(orderkey.max())
    span = max(1, hi_key // 100)
    lo = int(rng.integers(1, max(2, hi_key - span)))
    in_range = (orderkey >= lo) & (orderkey <= lo + span)
    return {
        "point_sks": sk_of(ok, ln),
        "point_expected": sorted(sk_of(orderkey[live], linenumber[live])),
        "range_lo": lo, "range_hi": lo + span,
        "range_count": int(in_range.sum()),
        "range_partkey_sum": int(partkey[in_range].sum()),
    }


def gen_cdc(seed, out):
    p = CDC
    rng = np.random.default_rng(seed)
    n = p["rows"]
    orderkey, linenumber = orders_layout(rng, n)
    shipday = (np.datetime64("2024-01-01") - EPOCH).astype(np.int64) + \
        rng.integers(0, 180, size=n)
    cap = n + int(n * p["batch_share"] * p["batches"])  # key universe
    ok_u = np.empty(cap, dtype=np.int64)
    ln_u = np.empty(cap, dtype=np.int64)
    sd_u = np.empty(cap, dtype=np.int64)
    ok_u[:n], ln_u[:n], sd_u[:n] = orderkey, linenumber, shipday
    nxt_ok, nxt_ln = orders_layout(rng, cap - n, first_orderkey=int(orderkey.max()) + 1)
    ok_u[n:], ln_u[n:] = nxt_ok, nxt_ln
    sd_u[n:] = shipday[0] + rng.integers(0, 180, size=cap - n)
    sk_u = np.array(sk_of(ok_u, ln_u))

    alive = np.zeros(cap, dtype=bool)
    alive[:n] = True
    version = np.zeros(cap, dtype=np.int64)
    next_new = n

    def rows(keys, ver, seq=None, op=None):
        cols = {"sk": pa.array(sk_u[keys])}
        cols.update(lineitem_payload(ok_u[keys], ln_u[keys], sd_u[keys], ver))
        if op is not None:
            cols["op"] = pa.array(op)
            cols["seq"] = pa.array(seq, pa.int64())
        return pa.table(cols)

    base = np.arange(n)
    write(rows(base, version[base]), f"{out}/base/part-000.parquet")

    seq = 0
    per_batch = int(n * p["batch_share"])
    probes = []
    batch_meta = []
    for b in range(p["batches"]):
        live = np.flatnonzero(alive)
        n_d = int(per_batch * p["d_share"])
        n_i = int(per_batch * p["i_share"])
        n_u = per_batch - n_d - n_i
        picked = rng.choice(live, size=n_d + n_u, replace=False)
        d_keys, u_keys = picked[:n_d], picked[n_d:]
        i_keys = np.arange(next_new, next_new + n_i)
        next_new += n_i
        # a share of the touched keys changes twice within the batch
        twice_u = rng.choice(u_keys, size=int(n_u * p["twice_share"]), replace=False)
        twice_i = rng.choice(i_keys, size=int(n_i * p["twice_share"]), replace=False)
        ops = ([(k, "U") for k in u_keys] + [(k, "I") for k in i_keys] +
               [(k, "D") for k in d_keys])
        ops = [ops[i] for i in rng.permutation(len(ops))]
        ops += [(k, "U") for k in np.r_[twice_u, twice_i]]  # later seq: they win
        keys = np.array([k for k, _ in ops], dtype=np.int64)
        opcodes = [o for _, o in ops]
        vers = np.empty(len(keys), dtype=np.int64)
        for j, (k, o) in enumerate(ops):
            if o == "I":
                version[k] = 0
                alive[k] = True
            elif o == "U":
                version[k] += 1
                alive[k] = True
            else:
                alive[k] = False
            vers[j] = version[k]
        seqs = np.arange(seq + 1, seq + 1 + len(keys))
        seq += len(keys)
        t = rows(keys, vers, seqs, opcodes)
        write(t, f"{out}/changes/batch-{b:04d}.parquet")
        live = np.flatnonzero(alive)
        probes.append(read_probes(rng, ok_u[live], ln_u[live],
                                  partkey_of(ok_u[live], ln_u[live], version[live]), p["probes"]))
        batch_meta.append({"rows": len(keys), "live_rows": int(alive.sum())})
    write_json({"base_rows": n, "batches": batch_meta, "probes": probes,
                "batch_share": p["batch_share"], "d_share": p["d_share"]},
               f"{out}/truth/cdc.json")


def word_list(n):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out = []
    for i in range(n):
        s, x = "", i + 27
        while x:
            s += letters[x % 26]
            x //= 26
        out.append(s)
    return np.array(out)


def gen_corpus(seed, out):
    p = CORPUS
    rng = np.random.default_rng(seed)
    vocab = word_list(p["vocab"])
    n_docs = p["docs"]
    n_planted = int(n_docs * p["planted_share"])  # copies, not originals

    # cluster sizes 2..5 until the copies budget is spent
    sizes = []
    copies = 0
    while copies < n_planted:
        s = int(rng.integers(2, 6))
        s = min(s, n_planted - copies + 1)
        sizes.append(s)
        copies += s - 1
    n_orig = n_docs - copies

    def doc_words():
        length = int(rng.integers(p["min_words"], p["max_words"] + 1))
        ranks = np.minimum(rng.zipf(p["zipf"], size=length), p["vocab"]) - 1
        return vocab[ranks]

    texts = [doc_words() for _ in range(n_orig)]
    cluster = list(range(n_orig))  # planted cluster id per doc
    for c, s in enumerate(sizes):
        for _ in range(s - 1):
            w = texts[c].copy()
            for pos in rng.choice(len(w), size=int(rng.integers(1, 3)), replace=False):
                w[pos] = vocab[int(rng.integers(0, p["vocab"]))]
            texts.append(w)
            cluster.append(c)
    perm = rng.permutation(n_docs)
    doc_id = np.empty(n_docs, dtype=np.int64)
    doc_id[perm] = np.arange(n_docs) * 3 + 1000  # ids carry no order
    write(pa.table({"doc_id": pa.array(doc_id, pa.int64()),
                    "text": pa.array([" ".join(t) for t in texts])}),
          f"{out}/docs/part-000.parquet")
    planted = [[int(doc_id[i]) for i in range(n_docs) if cluster[i] == c]
               for c in range(len(sizes))]

    # clustered embeddings + held-out queries, exact cosine top-k
    dim, m, q = p["dim"], p["vectors"], p["queries"]
    centers = rng.normal(0, 1, size=(p["centers"], dim))
    lab = rng.integers(0, p["centers"], size=m + q)
    vec = centers[lab] + rng.normal(0, 0.45, size=(m + q, dim))
    corpus, queries = vec[:m], vec[m:]
    vec_id = np.arange(m, dtype=np.int64) + 1
    per = -(-m // 4)
    for f in range(4):
        sl = slice(f * per, min(m, (f + 1) * per))
        write(pa.table({"vec_id": pa.array(vec_id[sl]),
                        "embedding": pa.array(list(corpus[sl]), pa.list_(pa.float64()))}),
              f"{out}/vectors/part-{f:03d}.parquet")
    q_id = np.arange(q, dtype=np.int64) + 10**9
    write(pa.table({"vec_id": pa.array(q_id),
                    "embedding": pa.array(list(queries), pa.list_(pa.float64()))}),
          f"{out}/queries/part-000.parquet")
    cn = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    qn = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    sims = qn @ cn.T
    top = np.argsort(-sims, axis=1, kind="stable")[:, :p["k"]]
    write_json({"docs": n_docs, "planted_clusters": planted,
                "planted_copies": copies, "vectors": m, "dim": dim,
                "queries": q, "k": p["k"],
                "truth": {str(int(q_id[i])): [int(vec_id[j]) for j in top[i]]
                          for i in range(q)}},
               f"{out}/truth/corpus.json")


GENERATORS = {"resync_backfill": gen_backfill, "cdc_upsert": gen_cdc,
              "corpus_dedup_search": gen_corpus}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    GENERATORS[a.workload](a.seed, a.out)


if __name__ == "__main__":
    main()
