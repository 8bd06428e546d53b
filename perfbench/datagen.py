"""Seeded input generator for the benchmark.

Two kinds of output:

* **Base tables** (``build_tables``): the ten tables of TESTDATA.md's shape
  (TPC-H-ish star schema plus ``events``, ``documents`` and ``embeddings``)
  at a fixed generator seed, written as single-row-group parquet like the
  repository's own test data. They depend only on the scale, so they are built
  once per checkout and cached; the analytics reference in
  ``reference/analytics.json`` is computed over them.
* **Per-run inputs** (``generate``): everything a workload feeds the program
  in one run, drawn from the run's ``--seed``, plus the ground truth the
  checks compare against. The program under test only ever sees the files.

Run it on its own to inspect what a run would receive::

    python3 perfbench/datagen.py --workload write --seed 7 --out /tmp/x

The same seed always writes byte-identical files.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Bumped whenever the base-table generator changes; the analytics
#: reference records it, so a stale reference is refused instead of
#: silently mismatching.
TABLES_VERSION = 2
TABLES_SEED = 42

#: Row counts per scale. ``full`` is sf0.05 for the relational and event
#: tables (half of TESTDATA.md's sf0.1: a read run's analytics pass must fit the
#: run budget next to the serve clients) and sf0.1 for ``documents`` and
#: ``embeddings``; ``tiny`` keeps every code path alive for the smoke tests.
SCALES = {
    "full": dict(customer=7500, supplier=500, part=10000, orders=75000,
                 lineitem=300000, events=50000, users=750, documents=5000,
                 embeddings=2000),
    "tiny": dict(customer=150, supplier=20, part=200, orders=1500,
                 lineitem=6000, events=2000, users=60, documents=200,
                 embeddings=400),
}

#: Per-run input sizes per scale (see each ``_gen_*`` for their meaning).
RUN_SIZES = {
    "full": dict(shard_docs=200, ingest_shards=5, serve_tickets=120,
                 serve_queries=20, serve_append=20, publish_batches=4,
                 publish_fas=6, analytics_passes=3),
    "tiny": dict(shard_docs=30, ingest_shards=4, serve_tickets=12,
                 serve_queries=5, serve_append=5, publish_batches=3,
                 publish_fas=2, analytics_passes=2),
}

#: Shards landed during set-up (state seeding) before the timed loop.
INGEST_SEED_SHARDS = 1
#: Every ``SERVE_APPEND_EVERY``-th serve ticket is an append, not a read.
SERVE_APPEND_EVERY = 5
#: Query ids live far above every corpus id so no query is its own neighbor.
QUERY_ID_BASE = 1_000_000_000
APPEND_ID_BASE = 100_000_000
EMB_DIM = 64

_DOC_VOCAB = ("spark window merge table column vector stream value data small "
              "join filter big group hash customer sort order slow line part "
              "fast row the agg key query a scan batch").split()


def _rng(*key) -> np.random.Generator:
    h = hashlib.sha256(json.dumps(key).encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "little"))


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return pa.array((d * 86_400_000_000).astype("datetime64[us]"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _doc_texts(rng, n: int, vocab, min_words=10, max_words=100) -> list[str]:
    lens = rng.integers(min_words, max_words + 1, n)
    idx = rng.integers(0, len(vocab), int(lens.sum()))
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(vocab[i] for i in idx[pos:pos + ln]))
        pos += ln
    return out


def _unit_rows(x: np.ndarray) -> np.ndarray:
    return (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)


def _cluster_vectors(rng, n: int, centers: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    labels = rng.integers(0, len(centers), n)
    noise = rng.normal(0.0, 1.0, (n, EMB_DIM))
    return _unit_rows(centers[labels] * 0.6 + noise / np.sqrt(EMB_DIM)), labels


def _emb_centers() -> np.ndarray:
    return _unit_rows(_rng("centers", TABLES_SEED).normal(size=(10, EMB_DIM)))


def build_tables(out_dir: str, scale: str = "full") -> None:
    """Write the ten base tables under ``out_dir`` (``<name>.parquet``)."""
    n = SCALES[scale]
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng("tables", TABLES_SEED, scale)

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), f"{out_dir}/nation.parquet")

    nc = n["customer"]
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, nc, -999.99, 9999.99),
        "c_mktsegment": segs[rng.integers(0, 5, nc)],
    }), f"{out_dir}/customer.parquet")

    ns = n["supplier"]
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, ns, -999.99, 9999.99),
    }), f"{out_dir}/supplier.parquet")

    npart = n["part"]
    adj = np.array(["large", "hot", "blue", "old", "cold", "red", "small", "shiny"])
    noun = np.array(["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    _write(pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, npart)], " "),
                              noun[rng.integers(0, 8, npart)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)),
        "p_type": types[rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 1),
    }), f"{out_dir}/part.parquet")

    no = n["orders"]
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, no, 1000.0, 500000.0),
        "o_orderdate": _days(rng, no, "1995-01-01", "2001-08-01"),
        "o_orderpriority": prio[rng.integers(0, 5, no)],
    }), f"{out_dir}/orders.parquet")

    nl = n["lineitem"]
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _days(rng, nl, "1995-01-02", "2001-11-04"),
    }), f"{out_dir}/lineitem.parquet")

    ne = n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400_000_000
    ts = np.sort(rng.choice(span, ne, replace=False)) + t0
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    _write(pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, n["users"], ne), pa.int64()),
        "event_type": etypes[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    }), f"{out_dir}/events.parquet")

    nd = n["documents"]
    texts = _doc_texts(rng, nd, _DOC_VOCAB)
    # sf0.1's documents carry a few near-copies (" dup" suffix) and
    # exact repeats of earlier texts — the dedup queries' positives
    for i in range(1, nd):
        r = rng.random()
        if r < 0.05:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
        elif r < 0.052:
            texts[i] = texts[int(rng.integers(0, i))]
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    _write(pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), nd)],
        "source": np.char.add("src", rng.integers(0, 20, nd).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), f"{out_dir}/documents.parquet")

    nv = n["embeddings"]
    vecs, labels = _cluster_vectors(rng, nv, _emb_centers())
    _write(pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), f"{out_dir}/embeddings.parquet")


def tables_digest(tables_dir: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(tables_dir)):
        if name.endswith(".parquet"):
            with open(os.path.join(tables_dir, name), "rb") as f:
                h.update(name.encode() + hashlib.sha256(f.read()).digest())
    return h.hexdigest()


# ---------------------------------------------------------------------------
# per-run inputs
# ---------------------------------------------------------------------------

def _vocab(rng, n: int) -> list[str]:
    syl = ["ka", "lo", "mi", "re", "su", "ta", "ne", "vo", "pi", "da", "ru",
           "se", "go", "fa", "li", "zu", "be", "co", "hi", "an"]
    words: set[str] = set()
    while len(words) < n:
        k = int(rng.integers(2, 5))
        words.add("".join(syl[i] for i in rng.integers(0, len(syl), k)))
    return sorted(words)


def _gen_ingest(out: str, seed: int, sz: dict) -> None:
    """JSONL shards with planted duplicates of documents landed earlier.

    Each shard holds ``shard_docs`` documents: ~80% planted-unique texts
    (sf0.1's 10-100-word shape over a wide vocabulary, so uniques are
    really unique), and ~20% copies of unique documents from EARLIER
    shards — exact copies (new id, same text), one-word-edit near copies
    (MinHash ledger) and lifted-paragraph copies (a 40-60-word run of an
    earlier document inside fresh text: overlap ledger). ``truth.json``
    gives every document's planted class and source id."""
    rng = _rng("ingest", seed)
    vocab = _vocab(rng, 4000)
    os.makedirs(f"{out}/shards")
    landed: list[tuple[int, str]] = []  # planted-unique docs of earlier shards
    truth = []
    for s in range(sz["ingest_shards"]):
        rows, kinds = [], []
        # the seeding shards only pay the cold state machine: keep them small
        n_docs = sz["shard_docs"] // 4 if s < INGEST_SEED_SHARDS else sz["shard_docs"]
        for j in range(n_docs):
            doc_id = s * 100_000 + j
            r = rng.random() if landed else 1.0
            long_src = [d for d in landed[-400:] if len(d[1].split()) >= 60]
            if r < 0.07:
                src, text = landed[int(rng.integers(0, len(landed)))]
                kind = "exact"
            elif r < 0.14:
                pool = [d for d in landed[-400:] if len(d[1].split()) >= 30]
                src, base = pool[int(rng.integers(0, len(pool)))]
                words = base.split()
                words[int(rng.integers(0, len(words)))] = vocab[int(rng.integers(0, len(vocab)))]
                text, kind = " ".join(words), "near"
            elif r < 0.20 and long_src:
                src, base = long_src[int(rng.integers(0, len(long_src)))]
                words = base.split()
                n_lift = int(rng.integers(40, 61))
                at = int(rng.integers(0, len(words) - n_lift + 1))
                fresh = _doc_texts(rng, 2, vocab, 15, 30)
                text = " ".join([fresh[0], " ".join(words[at:at + n_lift]), fresh[1]])
                kind = "lifted"
            else:
                src, text, kind = None, _doc_texts(rng, 1, vocab)[0], "unique"
            rows.append(json.dumps({"doc_id": doc_id, "text": text}))
            kinds.append({"doc_id": doc_id, "kind": kind, "src": src})
        for row, k in zip(rows, kinds):
            if k["kind"] == "unique":
                landed.append((k["doc_id"], json.loads(row)["text"]))
        with open(f"{out}/shards/s{s:04d}.jsonl", "w") as f:
            f.write("\n".join(rows) + "\n")
        truth.append(kinds)
    with open(f"{out}/truth.json", "w") as f:
        json.dump({"shards": truth, "seed_shards": INGEST_SEED_SHARDS}, f)


def exact_topk(corpus_ids, corpus, queries, k=10) -> np.ndarray:
    """Exact cosine top-k neighbor ids (ties by id) — the
    ``similarity.knn_bruteforce`` rule, in float64 numpy."""
    c = corpus.astype(np.float64)
    q = queries.astype(np.float64)
    cos = (q @ c.T) / np.outer(np.linalg.norm(q, axis=1), np.linalg.norm(c, axis=1))
    order = np.lexsort((np.broadcast_to(corpus_ids, cos.shape), -cos), axis=1)
    return corpus_ids[order[:, :k]]


def _gen_serve(out: str, seed: int, sz: dict, tables_dir: str) -> None:
    """One parquet per ticket: reads carry ``serve_queries`` query vectors,
    every ``SERVE_APPEND_EVERY``-th ticket instead carries ``serve_append``
    new corpus vectors. ``truth.npz`` holds each read's exact top-10 over
    the base corpus plus every append with a smaller ticket (the clients
    fence appends, so that is exactly what the read can see)."""
    rng = _rng("serve", seed)
    base = pq.read_table(f"{tables_dir}/embeddings.parquet")
    ids = base.column("vec_id").to_numpy()
    vecs = np.stack(base.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float32)
    centers = _emb_centers()
    os.makedirs(f"{out}/tickets")
    corpus_ids, corpus = ids, vecs
    truth = np.full((sz["serve_tickets"], sz["serve_queries"], 10), -1, np.int64)
    for t in range(sz["serve_tickets"]):
        if t % SERVE_APPEND_EVERY == SERVE_APPEND_EVERY - 1:
            new, _ = _cluster_vectors(rng, sz["serve_append"], centers)
            new_ids = APPEND_ID_BASE + t * 1000 + np.arange(len(new))
            corpus_ids = np.concatenate([corpus_ids, new_ids])
            corpus = np.concatenate([corpus, new])
            tid, tv = new_ids, new
        else:
            # queries near existing vectors, like a lookup of a known item
            pick = rng.integers(0, len(corpus), sz["serve_queries"])
            tv = _unit_rows(corpus[pick] + rng.normal(0, 0.08, (len(pick), EMB_DIM)))
            tid = QUERY_ID_BASE + t * 1000 + np.arange(len(tv))
            truth[t] = exact_topk(corpus_ids, corpus, tv)
        _write(pa.table({
            "vec_id": pa.array(tid, pa.int64()),
            "embedding": pa.array(list(tv), pa.list_(pa.float32())),
            "label": pa.array(np.zeros(len(tid), np.int32)),
        }), f"{out}/tickets/t{t:04d}.parquet")
    np.savez(f"{out}/truth.npz", truth=truth)


_EAD = ('<?xml version="1.0" encoding="UTF-8"?>\n'
        '<ead xmlns="urn:isbn:1-931666-22-9" xmlns:xlink="http://www.w3.org/1999/xlink">\n'
        '  <eadheader><eadid>{eid}</eadid></eadheader>\n'
        '  <archdesc><dsc>\n{comps}  </dsc></archdesc>\n</ead>\n')


def _gen_publish(out: str, seed: int, sz: dict) -> None:
    """Batches of synthetic EAD finding aids. Finding aids vary the
    component count, daos per component and the share of fetches that fail (the
    built-in fake fetcher's status is a hash of the URL, so the generator
    picks URLs until it hits the planned status). Some daos are not
    candidates (non-PDF, /Accessions/, show="none"). ``truth.json`` gives
    each batch's expected candidate daos, fetched PDFs and pages."""
    from pulfa_sausage_factory_spark.functions.subprocess_udf import _fake_pdfimages
    from pulfa_sausage_factory_spark.sources.http_transport import fake_transport

    rng = _rng("publish", seed)
    truth = []
    for b in range(sz["publish_batches"]):
        bdir = f"{out}/batches/b{b:03d}"
        os.makedirs(bdir)
        # batch 0 is the set-up warm-up run: one finding aid is enough
        n_fas = 1 if b == 0 else sz["publish_fas"]
        exp = {"fas": n_fas, "candidates": 0, "fetched": 0, "pages": 0}
        for fa in range(n_fas):
            # shapes vary per finding aid, so batches differ in mix but
            # carry similar totals
            n_comp = int(rng.integers(2, 6))
            daos_per = int(rng.integers(1, 4))
            fail_share = float(rng.choice([0.0, 0.2, 0.4]))
            eid = f"S{seed % 1000:03d}B{b:03d}F{fa:02d}"
            comps = []
            for c in range(n_comp):
                cid = f"{eid}_c{c:04d}"
                daos = []
                for k in range(daos_per):
                    want_ok = rng.random() >= fail_share
                    n = 0
                    while True:
                        url = f"http://pudl.example/{eid}/c{c:04d}/{k}_{n}.pdf"
                        status, body = fake_transport(url)
                        if (status == 200) == want_ok:
                            break
                        n += 1
                    daos.append(f'<dao xlink:href="{url}"/>')
                    exp["candidates"] += 1
                    if status == 200:
                        exp["fetched"] += 1
                        exp["pages"] += len(_fake_pdfimages(body))
                # non-candidates the dao filter must skip
                daos.append(f'<dao xlink:href="http://pudl.example/{eid}/c{c}/img.jpg"/>')
                if c % 2:
                    daos.append(f'<dao xlink:href="http://pudl.example/Accessions/{eid}/{c}.pdf"/>')
                comps.append(
                    f'    <c id="{cid}"><did><unittitle>Folder {c} of '
                    f'{eid}<unitdate>{1900 + c}</unitdate></unittitle>'
                    + "".join(daos) + "</did></c>\n")
            with open(f"{bdir}/{eid}.xml", "w") as f:
                f.write(_EAD.format(eid=eid, comps="".join(comps)))
        truth.append(exp)
    with open(f"{out}/truth.json", "w") as f:
        json.dump({"batches": truth}, f)


def _gen_analytics(out: str, seed: int, sz: dict, names: list[str]) -> None:
    rng = _rng("analytics", seed)
    passes = [[names[i] for i in rng.permutation(len(names))]
              for _ in range(sz["analytics_passes"])]
    with open(f"{out}/order.json", "w") as f:
        json.dump({"passes": passes}, f)


def generate(workload: str, seed: int, out: str, tables_dir: str,
             scale: str = "full") -> None:
    """Write one run's inputs and ground truth for ``workload`` to ``out``."""
    sz = RUN_SIZES[scale]
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    if workload == "write":
        os.makedirs(f"{out}/ingest")
        _gen_ingest(f"{out}/ingest", seed, sz)
        os.makedirs(f"{out}/publish")
        _gen_publish(f"{out}/publish", seed, sz)
    elif workload == "read":
        from analytics_queries import QUERY_NAMES

        os.makedirs(f"{out}/serve")
        _gen_serve(f"{out}/serve", seed, sz, tables_dir)
        _gen_analytics(out, seed, sz, QUERY_NAMES)
    else:
        raise ValueError(f"unknown workload {workload!r}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--tables", help="base tables dir (built there if absent)")
    ap.add_argument("--scale", default="full", choices=sorted(SCALES))
    a = ap.parse_args()
    tables = a.tables or os.path.join(a.out, "_tables")
    if not os.path.exists(os.path.join(tables, "embeddings.parquet")):
        build_tables(tables, a.scale)
    generate(a.workload, a.seed, os.path.join(a.out, a.workload), tables, a.scale)


if __name__ == "__main__":
    _here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:0] = [_here, os.path.dirname(_here)]
    main()
