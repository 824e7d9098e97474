"""Seeded change-script generator for the replication benchmark.

Writes an 8-table FK schema (TPC-H-shaped plus an events stream) with the
reference's CDC tracking columns, and a sequence of change batches:

    <out>/source/<table>/b0000.parquet   base rows (the initial full load)
    <out>/source/<table>/bNNNN.parquet   change batch NNNN (cycle NNNN)

The program only ever sees these parquet files.  A cycle k reads
b0000..bk as the source table, so the source is an append-only change log
in which a key may appear more than once (updates, soft deletes, inserts,
keys changed twice inside one batch).

Timestamps are written UTC-adjusted, which Spark reads as `timestamp` --
the type Spark's JDBC reader gives the reference's Oracle DATE/TIMESTAMP
columns.

Usage: python3 gen.py --out DIR --seed N --sf 0.01 --frac 0.005 --batches 8
"""
import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

US = 1_000_000
BASE_T0 = 1_704_067_200 * US        # 2024-01-01T00:00:00Z
BASE_SPAN = 180 * 86_400 * US        # base rows change over ~6 months
BATCH_T0 = 1_719_792_000 * US        # 2024-07-01T00:00:00Z
BATCH_STEP = 3_600 * US              # one hour per cycle

TS = pa.timestamp("us", tz="UTC")

# (name, primary key, FK parents).  Parents always load first.
TABLES = [
    ("region", ["r_regionkey"], []),
    ("nation", ["n_nationkey"], ["region"]),
    ("customer", ["c_custkey"], ["nation"]),
    ("supplier", ["s_suppkey"], ["nation"]),
    ("part", ["p_partkey"], []),
    ("orders", ["o_orderkey"], ["customer"]),
    # (l_orderkey, l_linenumber) is NOT unique in the fixtures (456,861
    # distinct over 600,000 rows at sf0.1); the four-column key is.
    ("lineitem", ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"],
     ["orders", "part", "supplier"]),
    ("events", ["event_id"], ["customer"]),
]
PK = {n: k for n, k, _ in TABLES}
FK_EDGES = [(p, n) for n, _, ps in TABLES for p in ps]

NATIONS = ["ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
           "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
           "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA",
           "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
           "UNITED STATES"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "cart", "purchase", "search"]


def _pick(rng, choices, n):
    return np.array(choices, dtype=object)[rng.integers(0, len(choices), n)]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _fmt(prefix, keys):
    return np.array([f"{prefix}{k:09d}" for k in keys], dtype=object)


def sizes(sf):
    return {
        "region": 5, "nation": 25,
        "customer": max(10, int(150_000 * sf)),
        "supplier": max(5, int(10_000 * sf)),
        "part": max(10, int(200_000 * sf)),
        "orders": max(10, int(1_500_000 * sf)),
        "events": max(10, int(1_000_000 * sf)),
    }


def payload(name, keys, rng, n_of):
    """Non-key, non-CDC columns for `keys` of table `name` (dict of arrays)."""
    n = len(keys)
    if name == "region":
        return {"r_name": np.array([REGIONS[k % 5] for k in keys], dtype=object)}
    if name == "nation":
        return {"n_name": np.array([NATIONS[k % 25] for k in keys], dtype=object),
                "n_regionkey": (np.asarray(keys) % 5).astype(np.int32)}
    if name == "customer":
        return {"c_name": _fmt("Customer#", keys),
                "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
                "c_acctbal": _money(rng, -999, 9999, n),
                "c_mktsegment": _pick(rng, SEGMENTS, n)}
    if name == "supplier":
        return {"s_name": _fmt("Supplier#", keys),
                "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
                "s_acctbal": _money(rng, -999, 9999, n)}
    if name == "part":
        return {"p_name": _fmt("part-", keys),
                "p_brand": np.array([f"Brand#{1 + k % 5}{1 + k % 7}" for k in keys],
                                    dtype=object),
                "p_type": _pick(rng, ["STANDARD", "SMALL", "MEDIUM", "LARGE",
                                      "ECONOMY", "PROMO"], n),
                "p_size": rng.integers(1, 51, n).astype(np.int32),
                "p_retailprice": _money(rng, 900, 2100, n)}
    if name == "orders":
        return {"o_custkey": rng.integers(1, n_of["customer"] + 1, n),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
                "o_totalprice": _money(rng, 800, 500_000, n),
                "o_orderdate": BASE_T0 - rng.integers(0, 2_000, n) * 86_400 * US,
                "o_orderpriority": _pick(rng, PRIORITIES, n)}
    if name == "events":
        uid = rng.integers(1, n_of["customer"] + 1, n)
        return {"ts": BASE_T0 + rng.integers(0, BASE_SPAN // US, n) * US,
                "user_id": uid,
                "event_type": _pick(rng, EVENT_TYPES, n),
                "value": _money(rng, 0, 500, n),
                "props": np.array([f'{{"page":{u % 97},"ab":"{"ab"[u % 2]}"}}'
                                   for u in uid], dtype=object)}
    if name == "lineitem":
        q = rng.integers(1, 51, n).astype(np.float64)
        return {"l_quantity": q,
                "l_extendedprice": np.round(q * rng.uniform(900, 2100, n), 2),
                "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
                "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
                "l_returnflag": _pick(rng, ["A", "N", "R"], n),
                "l_linestatus": _pick(rng, ["F", "O"], n),
                "l_shipdate": BASE_T0 - rng.integers(0, 2_000, n) * 86_400 * US}
    raise KeyError(name)


def lineitem_keys(rng, orderkeys, n_parts, n_supp):
    """1-7 lines per order; l_linenumber repeats inside an order (as in the
    fixtures), l_partkey is distinct inside an order, so the four-column key
    is unique."""
    per = rng.integers(1, 8, len(orderkeys))
    ok = np.repeat(orderkeys, per)
    j = np.arange(len(ok)) - np.repeat(np.cumsum(per) - per, per)
    step = 7919 % n_parts or 1
    pk = (ok * 104_729 + j * step) % n_parts + 1
    ln = rng.integers(1, 8, len(ok)).astype(np.int32)
    sk = (pk * 31 + j) % n_supp + 1
    return {"l_orderkey": ok.astype(np.int64), "l_partkey": pk.astype(np.int64),
            "l_suppkey": sk.astype(np.int64), "l_linenumber": ln}


def key_cols(name, keys):
    (k,) = PK[name]
    dt = np.int32 if name in ("region", "nation") else np.int64
    return {k: np.asarray(keys).astype(dt)}


def to_table(name, cols, created, updated, deleted):
    n = len(created)
    arrays, fields = [], []
    for c, v in cols.items():
        if c in ("o_orderdate", "l_shipdate", "ts"):
            arrays.append(pa.array(v, TS))
        else:
            arrays.append(pa.array(v))
        fields.append(c)
    arrays += [pa.array(created, TS), pa.array(updated, TS, mask=updated < 0),
               pa.array(np.where(deleted, "Y", "N").astype(object))]
    fields += ["created_at", "updated_at", "is_deleted"]
    assert all(len(a) == n for a in arrays)
    return pa.Table.from_arrays(arrays, names=fields)


def take(cols, idx):
    return {c: np.asarray(v)[idx] for c, v in cols.items()}


def concat(parts):
    return {c: np.concatenate([p[c] for p in parts]) for c in parts[0]}


def perturb(name, cols, rng):
    """An update changes one or two non-key payload columns."""
    n = len(next(iter(cols.values())))
    out = dict(cols)
    num = {"region": None, "nation": None, "customer": "c_acctbal",
           "supplier": "s_acctbal", "part": "p_retailprice",
           "orders": "o_totalprice", "lineitem": "l_extendedprice",
           "events": "value"}[name]
    if num:
        out[num] = np.round(np.asarray(cols[num]) + rng.uniform(1, 50, n), 2)
    if name == "region":
        out["r_name"] = np.array([s + "*" for s in cols["r_name"]], dtype=object)
    if name == "nation":
        out["n_name"] = np.array([s + "*" for s in cols["n_name"]], dtype=object)
    if name == "orders":
        out["o_orderstatus"] = _pick(rng, ["F", "O", "P"], n)
    return out


class Gen:
    def __init__(self, seed, sf):
        self.seed, self.sf = seed, sf
        self.n_of = sizes(sf)
        rng = np.random.default_rng([seed, 0])
        self.base = {}
        for name, _, _ in TABLES:
            if name == "lineitem":
                keys = lineitem_keys(rng, np.arange(1, self.n_of["orders"] + 1),
                                     self.n_of["part"], self.n_of["supplier"])
                n = len(keys["l_orderkey"])
                cols = {**keys, **payload(name, np.arange(n), rng, self.n_of)}
            else:
                keys = np.arange(0 if name in ("region", "nation") else 1,
                                 self.n_of[name] + (0 if name in ("region", "nation") else 1))
                n = len(keys)
                cols = {**key_cols(name, keys), **payload(name, keys, rng, self.n_of)}
            created = BASE_T0 + rng.integers(0, BASE_SPAN // US, n) * US
            upd = np.where(rng.random(n) < 0.3,
                           created + rng.integers(1, 86_400, n) * US, -1)
            self.base[name] = (cols, created, upd)
        self.n_of["lineitem"] = len(self.base["lineitem"][1])

    def base_table(self, name):
        cols, created, upd = self.base[name]
        return to_table(name, cols, created, np.minimum(
            np.where(upd < 0, -1, upd), BATCH_T0 - US), np.zeros(len(created), bool))

    def batch(self, name, k, frac, trickle):
        """Change batch k (1-based) of table `name`: updates and soft deletes
        of base keys, inserts of new keys, and second versions for a fifth
        of them.  Row counts depend only on the table size and `frac`: a
        trickle touches floor(frac * rows) keys, so small dimension tables
        stay unchanged; a bulk batch touches at least one key per table."""
        rng = np.random.default_rng([self.seed, k, sum(map(ord, name))])
        cols, created, _ = self.base[name]
        n = len(created)
        touch = int(frac * n) if trickle else max(1, int(round(frac * n)))
        if touch == 0:
            return None
        n_ins = max(1, touch // 5) if name not in ("region", "nation") else 0
        n_del = max(1, touch // 5) if touch >= 3 else 0
        n_upd = max(1, touch - n_ins - n_del)
        n_upd = min(n_upd, n - n_del)
        picked = rng.choice(n, n_upd + n_del, replace=False)
        upd_idx, del_idx = picked[:n_upd], picked[n_upd:]
        t_k = BATCH_T0 + (k - 1) * BATCH_STEP
        parts, c_at, u_at, dele = [], [], [], []

        def emit(c, created_at, change_ts, deleted):
            parts.append(c)
            c_at.append(created_at)
            u_at.append(change_ts)
            dele.append(np.full(len(created_at), deleted))

        first = t_k + rng.integers(1, 1_800, n_upd + n_del) * US
        u_cols = perturb(name, take(cols, upd_idx), rng)
        emit(u_cols, created[upd_idx], first[:n_upd], False)
        emit(take(cols, del_idx), created[del_idx], first[n_upd:], True)
        # a fifth of the updated keys change again later in the same batch
        again = rng.choice(n_upd, n_upd // 5, replace=False) if n_upd >= 5 else np.array([], int)
        if len(again):
            second = first[again] + rng.integers(1, 1_800, len(again)) * US
            emit(perturb(name, take(u_cols, again), rng), created[upd_idx][again],
                 second, False)
        if n_ins:
            if name == "lineitem":
                new_orders = self.n_of["orders"] + k * 1_000_000 + np.arange(1, n_ins + 1)
                keys = lineitem_keys(rng, new_orders, self.n_of["part"],
                                     self.n_of["supplier"])
                keys = {c: v[:n_ins] for c, v in keys.items()}
                i_cols = {**keys, **payload(name, np.arange(n_ins), rng, self.n_of)}
            else:
                new = n + k * 1_000_000 + np.arange(1, n_ins + 1)
                i_cols = {**key_cols(name, new), **payload(name, new, rng, self.n_of)}
            ins_ts = t_k + rng.integers(1, 1_800, n_ins) * US
            c_at.append(ins_ts)
            u_at.append(np.full(n_ins, -1))
            parts.append(i_cols)
            dele.append(np.zeros(n_ins, bool))
            # some inserts are updated, and some deleted, before the cycle runs
            twice = rng.choice(n_ins, n_ins // 5, replace=False) if n_ins >= 5 else np.array([], int)
            if len(twice):
                kill = rng.random(len(twice)) < 0.5
                emit(perturb(name, take(i_cols, twice), rng), ins_ts[twice],
                     ins_ts[twice] + rng.integers(1, 1_800, len(twice)) * US, False)
                dele[-1] = kill
        all_cols = concat(parts)
        return to_table(name, all_cols, np.concatenate(c_at), np.concatenate(u_at),
                        np.concatenate(dele))


def generate(out, seed, sf, frac, batches, trickle):
    g = Gen(seed, sf)
    manifest = {"seed": seed, "sf": sf, "frac": frac, "batches": batches,
                "tables": [{"name": n, "pk": k} for n, k, _ in TABLES],
                "fk": FK_EDGES, "files": {}}
    for name, _, _ in TABLES:
        d = os.path.join(out, "source", name)
        os.makedirs(d, exist_ok=True)
        files = []
        for k in range(batches + 1):
            t = g.base_table(name) if k == 0 else g.batch(name, k, frac, trickle)
            p = os.path.join(d, f"b{k:04d}.parquet")
            if t is not None:
                pq.write_table(t, p, compression="snappy")
                files.append({"batch": k, "path": os.path.relpath(p, out),
                              "rows": t.num_rows, "bytes": os.path.getsize(p)})
        manifest["files"][name] = files
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


WORDS = ["the", "fast", "key", "order", "sort", "table", "scan", "merge", "part",
         "window", "small", "hash", "join", "batch", "stream", "spark", "group",
         "query", "row", "data", "slow", "filter", "customer", "line", "value",
         "agg", "column", "big", "vector", "a", "dup", "shard", "index", "lake"]
LANGS = ["en", "fr", "es", "zh", "de"]


def generate_gate_inputs(out, seed, sf):
    """The ten fixture tables the graph/dedup gates read, in the fixtures'
    shape (no CDC columns, tz-naive timestamps): the eight FK tables from
    the same generator, plus documents (near-duplicate word text) and
    embeddings (64-d vectors, some near-duplicates)."""
    os.makedirs(out, exist_ok=True)
    g = Gen(seed, sf)
    for name, _, _ in TABLES:
        t = g.base_table(name).drop(["created_at", "updated_at", "is_deleted"])
        cols = [c.cast(pa.timestamp("us")) if pa.types.is_timestamp(c.type) else c
                for c in t.columns]
        pq.write_table(pa.Table.from_arrays(cols, names=t.column_names),
                       os.path.join(out, f"{name}.parquet"))
    rng = np.random.default_rng([seed, 99])
    n_docs = max(50, int(50_000 * sf))
    words = np.array(WORDS, dtype=object)
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.25:   # near-duplicate of an earlier doc
            w = texts[rng.integers(0, i)].split(" ")
            for _ in range(rng.integers(0, 3)):
                w[rng.integers(0, len(w))] = words[rng.integers(0, len(words))]
            texts.append(" ".join(w))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), rng.integers(20, 80))]))
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS, dtype=object)[rng.integers(0, 5, n_docs)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})
    pq.write_table(docs, os.path.join(out, "documents.parquet"))
    n_vec = max(50, int(20_000 * sf))
    centers = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, n_vec)
    vec = centers[label] + rng.normal(scale=0.8, size=(n_vec, 64))
    dup = rng.random(n_vec) < 0.1
    src = rng.integers(0, n_vec, n_vec)
    vec[dup] = vec[src[dup]] + rng.normal(scale=0.01, size=(int(dup.sum()), 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32))})
    pq.write_table(emb, os.path.join(out, "embeddings.parquet"))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--frac", type=float, required=True)
    ap.add_argument("--batches", type=int, required=True)
    ap.add_argument("--trickle", action="store_true")
    a = ap.parse_args()
    generate(a.out, a.seed, a.sf, a.frac, a.batches, a.trickle)


if __name__ == "__main__":
    main()
