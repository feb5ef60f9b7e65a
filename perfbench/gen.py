"""Seeded, deterministic inputs for the benchmark.

Everything the program under test reads is made here, from a seed:

* ``face_tables`` writes the fixed face corpus (the ten tables the
  registered faces read) from ``FACE_DATA_SEED``. It has the shape of the
  engine's sf0.01 test tables: the same schemas, key ranges and value
  domains. The corpus is the same for every run, so face timings are
  comparable across seeds; the run seed only orders the faces.
* ``stage_ingest_backlog`` writes a backlog of timestamped ingest folders
  under ``<bucket>/pending/``: per entity a ``_headers`` and a ``_sample``
  CSV.gz, a ``bulk.txt``/``incremental.txt`` marker, and ``manifest.json``
  with the real SHA256 of every file, written last as the commit marker.
  gzip headers carry no name and mtime 0, so one seed gives byte-identical
  folders.
* ``pod_script`` and ``face_order`` derive the scripted rolling-update
  poll counts and the face order from the seed.
"""
import gzip
import hashlib
import json
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

FACE_DATA_SEED = 42

WORDS = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en"] * 3 + ["fr", "zh", "de", "es"]
EVENT_TYPES = ["click", "view", "error", "purchase", "signup"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"]
PART_ADJ = ["blue", "old", "red", "small", "new", "hot", "large", "cold"]
PART_NOUN = ["widget", "gizmo", "bolt", "plate", "anvil", "rod", "ring", "gear"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01 UTC
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01 UTC


def _money(rng, lo, hi):
    return round(rng.uniform(lo, hi), 2)


def _write(table, d, name):
    pq.write_table(table, os.path.join(d, f"{name}.parquet"))


def face_tables(d, seed=FACE_DATA_SEED):
    """Write the face corpus into directory ``d``, with the sf0.01 row
    counts (60,000 lineitems, 500 documents)."""
    rng = random.Random(seed)
    os.makedirs(d, exist_ok=True)
    n_nat, n_cust, n_supp, n_part = 25, 1500, 100, 2000
    n_ord, n_line, n_doc, n_emb, n_ev, n_users = 15000, 60000, 500, 500, 10000, 150

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}), d, "region")
    _write(pa.table({
        "n_nationkey": pa.array(range(n_nat), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(n_nat)],
        "n_regionkey": pa.array([i % 5 for i in range(n_nat)], pa.int32())}), d, "nation")
    _write(pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array([rng.randrange(n_nat) for _ in range(n_cust)], pa.int32()),
        "c_acctbal": pa.array([_money(rng, -999.99, 9999.99) for _ in range(n_cust)], pa.float64()),
        "c_mktsegment": [rng.choice(SEGMENTS) for _ in range(n_cust)]}), d, "customer")
    _write(pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array([rng.randrange(n_nat) for _ in range(n_supp)], pa.int32()),
        "s_acctbal": pa.array([_money(rng, -999.99, 9999.99) for _ in range(n_supp)], pa.float64())}),
        d, "supplier")
    _write(pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{rng.randrange(1, 26)}" for _ in range(n_part)],
        "p_type": [rng.choice(PART_TYPES) for _ in range(n_part)],
        "p_size": pa.array([rng.randrange(1, 51) for _ in range(n_part)], pa.int32()),
        "p_retailprice": pa.array([round(900 + (i % 1000) * 0.1, 1) for i in range(n_part)],
                                  pa.float64())}), d, "part")
    span_days = 2404  # 1995-01-01 .. 2001-08-01
    _write(pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array([rng.randrange(n_cust) for _ in range(n_ord)], pa.int64()),
        "o_orderstatus": [rng.choice("OFP") for _ in range(n_ord)],
        "o_totalprice": pa.array([_money(rng, 1000, 500000) for _ in range(n_ord)], pa.float64()),
        "o_orderdate": pa.array([EPOCH_1995_US + rng.randrange(span_days) * DAY_US
                                 for _ in range(n_ord)], pa.timestamp("us")),
        "o_orderpriority": [rng.choice(PRIORITIES) for _ in range(n_ord)]}), d, "orders")
    cols = {k: [] for k in ("ok", "pk", "sk", "ln", "q", "ep", "disc", "tax", "rf", "ls", "sd")}
    for _ in range(n_line):
        cols["ok"].append(rng.randrange(n_ord))
        cols["pk"].append(rng.randrange(n_part))
        cols["sk"].append(rng.randrange(n_supp))
        cols["ln"].append(rng.randrange(1, 8))
        cols["q"].append(float(rng.randrange(1, 51)))
        cols["ep"].append(_money(rng, 900, 105000))
        cols["disc"].append(rng.randrange(0, 11) / 100)
        cols["tax"].append(rng.randrange(0, 9) / 100)
        cols["rf"].append(rng.choice("ANR"))
        cols["ls"].append(rng.choice("OF"))
        cols["sd"].append(EPOCH_1995_US + DAY_US + rng.randrange(2498) * DAY_US)
    _write(pa.table({
        "l_orderkey": pa.array(cols["ok"], pa.int64()),
        "l_partkey": pa.array(cols["pk"], pa.int64()),
        "l_suppkey": pa.array(cols["sk"], pa.int64()),
        "l_linenumber": pa.array(cols["ln"], pa.int32()),
        "l_quantity": pa.array(cols["q"], pa.float64()),
        "l_extendedprice": pa.array(cols["ep"], pa.float64()),
        "l_discount": pa.array(cols["disc"], pa.float64()),
        "l_tax": pa.array(cols["tax"], pa.float64()),
        "l_returnflag": cols["rf"],
        "l_linestatus": cols["ls"],
        "l_shipdate": pa.array(cols["sd"], pa.timestamp("us"))}), d, "lineitem")

    stamps = sorted(EPOCH_2024_US + rng.randrange(30 * DAY_US) for _ in range(n_ev))
    _write(pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(stamps, pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(n_users) for _ in range(n_ev)], pa.int64()),
        "event_type": [rng.choice(EVENT_TYPES) for _ in range(n_ev)],
        "value": pa.array([max(0.01, round(rng.expovariate(1 / 50), 2)) for _ in range(n_ev)],
                          pa.float64()),
        "props": ['{"k": %d}' % rng.randrange(100) for _ in range(n_ev)]}), d, "events")

    texts, seen = [], set()
    while len(texts) < n_doc:
        t = " ".join(rng.choice(WORDS) for _ in range(rng.randrange(10, 100)))
        if t not in seen:
            seen.add(t)
            texts.append(t)
    _write(pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in range(n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}), d, "documents")

    vecs = []
    for _ in range(n_emb):
        v = [rng.gauss(0.0, 1.0) for _ in range(64)]
        norm = math.sqrt(sum(x * x for x in v))
        vecs.append([x / norm for x in v])
    _write(pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array([rng.randrange(10) for _ in range(n_emb)], pa.int32())}),
        d, "embeddings")


# ---------------------------------------------------------------- ingest

ENTITIES = ["person", "vehicle", "address", "document"]
N_COLS = 8
FIRST_FOLDER = 1538055240  # the reference's sample ingest timestamp


def _gz(data):
    """Deterministic gzip: no file name, mtime 0."""
    return gzip.compress(data, compresslevel=1, mtime=0)


def _rows(rng, entity, n):
    """``n`` CSV lines of ``N_COLS`` non-empty, comma-free fields."""
    nums = range(1_000_000)
    cols = [[f"{entity[0]}{i}" for i in range(n)],
            rng.choices(WORDS, k=n), rng.choices(WORDS, k=n),
            [str(x) for x in rng.choices(nums, k=n)],
            [f"{rng.random() * 1000:.3f}" for _ in range(n)],
            rng.choices(LANGS, k=n),
            [f"2018-{m:02d}-{d:02d}" for m, d in zip(rng.choices(range(1, 13), k=n),
                                                      rng.choices(range(1, 29), k=n))],
            [f"{x:08x}" for x in rng.choices(range(1 << 32), k=n)]]
    return [",".join(fields) for fields in zip(*cols)]


def row_digest(line):
    """Order-independent checksum term of one CSV line: the first 10 hex
    digits of its SHA256 as an integer. The harness sums the same term
    over the committed parquet rows (``sha2(concat_ws(',', cols), 256)``)."""
    return int(hashlib.sha256(line.encode()).hexdigest()[:10], 16)


def _spread(rng, n, lo, hi):
    """``n`` evenly spaced values in [lo, hi] in a seeded order: the seed
    moves them around, every seed gets the same set."""
    vals = [lo + (hi - lo) * (i + 0.5) / n for i in range(n)]
    rng.shuffle(vals)
    return vals


def plan_backlog(seed, n_delta, n_bulk, delta_rows, bulk_rows):
    """Folder list, oldest first: ``n_bulk`` bulk folders evenly spaced among
    ``n_delta`` incremental ones (fixed positions, so warm-up drift treats
    every seed alike). Folder times are seeded; row counts are a seeded
    order of the same ±10% spread for every seed."""
    rng = random.Random(f"backlog-{seed}")
    n = n_delta + n_bulk
    bulk_at = {round((j + 1) * n / (n_bulk + 1)) for j in range(n_bulk)}
    scale = {"bulk": iter(_spread(rng, n_bulk, 0.9, 1.1)),
             "incremental": iter(_spread(rng, n_delta, 0.9, 1.1))}
    plan, ts = [], FIRST_FOLDER
    for i in range(n):
        kind = "bulk" if i in bulk_at else "incremental"
        ts += rng.randrange(60, 600)
        base = bulk_rows if kind == "bulk" else delta_rows
        plan.append({"name": str(ts), "type": kind, "rows": int(base * next(scale[kind]))})
    return plan


def stage_folder(bucket, folder, seed):
    """Write one ingest folder; return {entity: [rows, checksum]}."""
    rng = random.Random(f"folder-{seed}-{folder['name']}")
    root = os.path.join(bucket, "pending", folder["name"])
    manifest, expected = [], {}
    for entity in ENTITIES:
        edir = os.path.join(root, entity)
        os.makedirs(edir, exist_ok=True)
        header = ",".join(f"{entity}_c{j}" for j in range(N_COLS)) + "\n"
        lines = _rows(rng, entity, folder["rows"])
        for fname, payload in ((f"{entity}_headers.csv.gz", header),
                               (f"{entity}_sample.csv.gz", "\n".join(lines) + "\n")):
            blob = _gz(payload.encode())
            with open(os.path.join(edir, fname), "wb") as f:
                f.write(blob)
            manifest.append({"FileName": fname, "SHA256": hashlib.sha256(blob).hexdigest()})
        expected[entity] = [len(lines), sum(row_digest(l) for l in lines)]
    with open(os.path.join(root, f"{folder['type']}.txt"), "w") as f:
        f.write("")
    # manifest last: the commit marker the control loop gates on
    with open(os.path.join(root, "manifest.json"), "w") as f:
        f.write("\n".join(json.dumps(m) for m in manifest) + "\n")
    return expected


def stage_ingest_backlog(bucket, seed, plan):
    """Stage every folder of ``plan``; returns the per-folder expectations
    the harness checks each cycle against."""
    return [dict(f, entities=stage_folder(bucket, f, seed)) for f in plan]


def pod_script(seed, n_folders):
    """Per folder and sink, how many stale pod documents the rolling-update
    poll sees before a fresh one: 0, 1 and 2 equally often, in a seeded
    order, so every seed polls the same number of times."""
    rng = random.Random(f"pods-{seed}")
    stale = [i % 3 for i in range(2 * n_folders)]
    rng.shuffle(stale)
    return [{"neo4j": stale[2 * i], "elastic": stale[2 * i + 1]} for i in range(n_folders)]


def face_order(seed, faces):
    """The seeded order of one pass over ``faces``."""
    order = list(faces)
    random.Random(f"faces-{seed}").shuffle(order)
    return order

