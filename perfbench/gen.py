"""Seeded input generators for the graft benchmark.

Everything the program under test reads is made here from a seed: the
TPC-H-style star schema plus the `events`, `documents` and `embeddings`
tables the analytics queries consume, and the catalog pipeline's request
messages, archive manifests, CDC change batches and staged stream files.
The same seed always gives byte-identical inputs.

`CatalogModel` is the independent expected-state model for the catalog
pipeline: a plain Python fold over the generated records, sharing no
code with the Scala program, against which the harness's reported state
is checked.
"""
import json
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00Z in microseconds
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in microseconds

WORDS = ("query row stream the spark line small fast group customer batch "
         "sort value hash filter big data part column order scan a slow agg "
         "key window table merge vector join").split()
ADJ = "large hot red cold old new small blue".split()
NOUN = "ring plate gear anvil gizmo widget rod bolt".split()
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PTYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def tables(out_dir, sf, seed):
    """Write the ten analytics tables at scale factor `sf` to `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, int(round(sf * 1e6))])
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_evt = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), f"{out_dir}/nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    }), f"{out_dir}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    }), f"{out_dir}/supplier.parquet")
    pidx = np.arange(n_part)
    _write(pa.table({
        "p_partkey": pa.array(pidx, pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pidx % 1000) * 0.1, 1),
    }), f"{out_dir}/part.parquet")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["O", "P", "F"], n_ord),
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, n_ord) * DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    }), f"{out_dir}/orders.parquet")
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["O", "F"], n_line),
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2499, n_line) * DAY_US),
    }), f"{out_dir}/lineitem.parquet")
    _write(pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": _ts(EPOCH_2024 + np.sort(rng.integers(0, 30 * DAY_US, n_evt))),
        "user_id": pa.array(rng.integers(0, max(15, int(15_000 * sf)), n_evt),
                            pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_evt),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    }), f"{out_dir}/events.parquet")
    # documents: random word sequences; 5% are a copy of another doc's
    # text with " dup" appended (the near-duplicate share dedup targets)
    lens = rng.integers(10, 101, n_doc)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), n)]) for n in lens]
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), f"{out_dir}/documents.parquet")
    # embeddings: unit vectors around ten label centroids
    labels = rng.integers(0, 10, n_emb)
    cent = rng.normal(0.0, 1.0, (10, 64))
    vec = cent[labels] + rng.normal(0.0, 1.5, (n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), f"{out_dir}/embeddings.parquet")


# ---------------------------------------------------------------- catalog

# The request filter vocabulary: (processing_level, patterns). Patterns
# use only syntax on which Java's `rlike` (find) and Python's re.search
# agree.
FILTER_POOL = [
    ("1", [r"\.fastq$", r"\.fq$"]),
    ("2", [r"\.bam$"]),
    ("3", [r"/reports/.*\.json$"]),
    ("4", [r"\.vcf$", r"/calls/"]),
]
EXTS = ["fastq", "fq", "bam", "json", "vcf", "txt", "log", "csv"]
DIRS = ["raw", "reports", "calls", "aligned", "tmp"]


def _level_of(path, filters):
    """First-match-wins level assignment (None = not indexed)."""
    for level, patterns in filters:
        if any(re.search(p, path) for p in patterns):
            return level
    return None


class CatalogModel:
    """Expected catalog state: a dict doc_id -> record, folded in seq order."""

    def __init__(self):
        self.rows = {}
        self.seen = set()

    def ingest(self, records):
        self.rows = {r["doc_id"]: r for r in records}

    def apply(self, batch):
        # a redelivered record repeats an earlier (seq, content): it was
        # applied when first seen and must not be applied again
        for c in sorted(batch, key=lambda c: c["seq"]):
            if c["seq"] in self.seen:
                continue
            self.seen.add(c["seq"])
            if c["op"] == "delete":
                self.rows.pop(c["doc_id"], None)
            else:
                self.rows[c["doc_id"]] = {k: c[k] for k in RECORD_COLS}


RECORD_COLS = ["doc_id", "path", "n_chars", "processing_level", "generated_by"]


def _manifest(rng, uuid, first_id, n):
    rows = []
    for i in range(n):
        d = DIRS[int(rng.integers(0, len(DIRS)))]
        e = EXTS[int(rng.integers(0, len(EXTS)))]
        rows.append({"doc_id": first_id + i,
                     "path": f"/archive/jobs/{uuid}/{d}/f{first_id + i}.{e}",
                     "n_chars": int(rng.integers(100, 100_000))})
    return rows


def catalog_cycle(out_dir, seed, cycle, t):
    """Write one catalog-pipeline cycle's inputs under `out_dir` and
    return the plan the harness follows plus the expected outcomes.

    `t` is the traffic of workloads.json (`catalog_pipeline.traffic`,
    values only); the basis of each value is recorded there."""
    n_jobs, files_per_job = t["jobs"], t["files_per_job"]
    n_batches, batch_rows = t["batches"], t["batch_rows"]
    mix = t["op_mix"]
    # cumulative bounds of one uniform draw: insert | update | move | delete
    c_insert = mix["insert"]
    c_update = c_insert + mix["update"]
    c_move = c_update + mix["level_move"]
    rng = np.random.default_rng([seed, 7919, cycle])
    os.makedirs(out_dir, exist_ok=True)
    # ---- index request messages: valid index/indexed requests plus a
    # planted share of malformed JSON and schema-invalid messages
    jobs, lines, n_bad = [], [], 0
    for j in range(n_jobs):
        uuid = f"job-{seed}-{cycle}-{j:03d}"
        k = int(rng.integers(1, len(FILTER_POOL) + 1))
        picks = sorted(rng.choice(len(FILTER_POOL), k, replace=False))
        filters = [FILTER_POOL[p] for p in picks]
        jobs.append({"uuid": uuid, "filters": filters})
        lines.append(json.dumps({
            "uuid": uuid, "name": "index", "level": "1",
            "filters": [{"processing_level": lv, "patterns": ps}
                        for lv, ps in filters]}))
        lines.append(json.dumps({"uuid": uuid, "name": "indexed"}))
    bad = [
        '{"uuid": "x", "name": "index", "filters": [',           # malformed
        'not json at all',                                       # malformed
        json.dumps({"name": "index"}),                           # no uuid
        json.dumps({"uuid": "y"}),                               # no name
        json.dumps({"uuid": "z", "name": "reindex"}),            # action
        json.dumps({"uuid": "w", "name": "index",                # filter
                    "filters": [{"processing_level": "1", "patterns": []}]}),
    ]
    for _ in range(max(2, int(len(lines) * t["invalid_per_valid"]))):
        lines.append(bad[int(rng.integers(0, len(bad)))])
        n_bad += 1
    order = rng.permutation(len(lines))
    with open(f"{out_dir}/requests.jsonl", "w") as f:
        f.write("\n".join(lines[i] for i in order) + "\n")

    # ---- archive manifests, one JSON-lines file per job
    model = CatalogModel()
    records, offered, next_id = [], 0, 0
    for j in jobs:
        rows = _manifest(rng, j["uuid"], next_id, files_per_job)
        next_id += files_per_job
        offered += len(rows)
        with open(f"{out_dir}/manifest_{j['uuid']}.jsonl", "w") as f:
            f.write("\n".join(json.dumps(r) for r in rows) + "\n")
        for r in rows:
            lv = _level_of(r["path"], j["filters"])
            if lv is not None:
                records.append({**r, "processing_level": lv,
                                "generated_by": j["uuid"]})
    model.ingest(records)

    # ---- CDC change batches: upserts of new docs, updates, level moves
    # and deletes of live docs, plus redelivered copies of earlier records
    batches, seq, sent = [], 0, []
    levels = [lv for lv, _ in FILTER_POOL]
    expect_after = []
    for b in range(n_batches):
        live = sorted(model.rows)
        batch = []
        for _ in range(batch_rows):
            r = rng.random()
            seq += 1
            if r < c_insert or not live:
                uuid = jobs[int(rng.integers(0, n_jobs))]["uuid"]
                rec = {"doc_id": next_id, "path":
                       f"/archive/jobs/{uuid}/raw/f{next_id}.fastq",
                       "n_chars": int(rng.integers(100, 100_000)),
                       "processing_level": "1", "generated_by": uuid}
                next_id += 1
                op = "upsert"
            else:
                rec = dict(model.rows.get(live[int(rng.integers(0, len(live)))])
                           or {})
                if not rec:
                    continue
                if r < c_update:
                    rec["n_chars"] = int(rng.integers(100, 100_000))
                    op = "upsert"
                elif r < c_move:
                    rec["processing_level"] = levels[int(rng.integers(0, 4))]
                    op = "upsert"
                else:
                    op = "delete"
            batch.append({**{k: rec[k] for k in RECORD_COLS},
                          "op": op, "seq": seq})
        if sent:
            # at-least-once delivery: re-send a few earlier records
            for _ in range(t["redelivered_per_batch"]):
                batch.append(dict(sent[int(rng.integers(0, len(sent)))]))
        model.apply(batch)
        sent.extend(batch)
        batches.append(batch)
        expect_after.append(_view_digest(model.rows))
    for b, batch in enumerate(batches):
        with open(f"{out_dir}/changes_{b:03d}.jsonl", "w") as f:
            f.write("\n".join(json.dumps(c) for c in batch) + "\n")

    # ---- staged manifests for the streaming indexer; one malformed line
    # per job plus one row without a path (both dead-lettered)
    stream = []
    for s in range(t["stream_jobs"]):
        j = jobs[s % n_jobs]
        uuid = f"{j['uuid']}-stream"
        files, n_files, n_reject = [], 0, 0
        for k in range(t["stream_files"]):
            rows = _manifest(rng, uuid, next_id, t["stream_rows"])
            next_id += t["stream_rows"]
            n_files += sum(_level_of(r["path"], j["filters"]) is not None
                           for r in rows)
            body = [json.dumps(r) for r in rows]
            if k == 0:
                body += ['{"doc_id": 1, "path": ', json.dumps({"doc_id": 2})]
                n_reject += 2
            name = f"{out_dir}/stream_{s}_{k}.jsonl"
            with open(name, "w") as f:
                f.write("\n".join(body) + "\n")
            files.append(name)
        stream.append({"uuid": uuid, "files": files, "n_files": n_files,
                       "n_reject": n_reject,
                       "filters": [{"level": lv, "patterns": ps}
                                   for lv, ps in j["filters"]]})
    plan = {
        "requests": f"{out_dir}/requests.jsonl",
        "offered": offered,
        "jobs": [{"uuid": j["uuid"],
                  "manifest": f"{out_dir}/manifest_{j['uuid']}.jsonl"}
                 for j in jobs],
        "batches": [f"{out_dir}/changes_{b:03d}.jsonl"
                    for b in range(n_batches)],
        "stream": stream,
    }
    expect = {
        "dead_letters": n_bad,
        "accepted": len(lines) - n_bad,
        "indexed": len(records),
        "after_batch": expect_after,
        "final_rows": sorted(
            [[r[k] for k in RECORD_COLS] for r in model.rows.values()]),
        "job_states": sorted([[s["uuid"], "FINISHED", s["n_files"]]
                              for s in stream]),
        "stream_rejects": sum(s["n_reject"] for s in stream),
    }
    return plan, expect


def _view_digest(rows):
    """What each discovery read must return against this catalog state:
    per job and per level (row count, sum of doc_id, sum of n_chars)."""
    by_job, by_level = {}, {}
    for r in rows.values():
        for d, k in ((by_job, r["generated_by"]),
                     (by_level, r["processing_level"])):
            c = d.setdefault(k, [0, 0, 0])
            c[0] += 1
            c[1] += r["doc_id"]
            c[2] += r["n_chars"]
    pattern = {}
    for ext in ("fastq", "bam", "json"):
        sel = [r for r in rows.values() if r["path"].endswith("." + ext)]
        pattern[ext] = [len(sel), sum(r["doc_id"] for r in sel),
                        sum(r["n_chars"] for r in sel)]
    return {"job": by_job, "level": by_level, "pattern": pattern}
