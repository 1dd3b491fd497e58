"""Seeded input generator for the perfbench workloads.

Every input a workload reads is made here from `--seed` alone and
written under the run's input directory, laid out the way graft's
`Tables` loaders expect (`<dir>/<table>.parquet`). Parquet layout is
fixed: each table's row-group count is chosen here and recorded in the
manifest, because the scan layer's parallelism follows it (one row
group scans as one task).

The manifest (`manifest.json`) records the seed, then bytes, rows,
files and row groups per table, plus the few workload facts the JVM
side needs (the corpus token count, the number of vectors).
"""
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes, per workload. They are chosen so one pass over a workload's
# job list takes a few seconds on 4 cores; README.md records why.
TEXT_DOCS = 2500           # documents.parquet rows
TEXT_TOKENS_PER_DOC = 60   # mean; lengths vary +-50 %
TEXT_VOCAB = 30000         # Zipf-ranked vocabulary
TEXT_ZIPF_S = 1.1          # Zipf exponent: rank r has weight r**-s
TEXT_ROW_GROUPS = 8        # fixed documents.parquet layout
TEXT_FILES = 8             # the typed API's text files (one task each)
CDC_SLICE_DOCS = 300       # Dedup.cdcDedup input slice
CDC_SLICE_COPIES = 60      # planted near-copies inside the slice

GRAPH_ORDERS = 2000        # lineitem orders
GRAPH_PARTS = 600          # part key domain
GRAPH_ROW_GROUPS = 4
STREAM_FILES = 2           # edge files drained one per micro-batch

ANN_VECTORS = 2000         # embeddings.parquet rows
ANN_DIM = 64
ANN_CLUSTERS = 32
ANN_ROW_GROUPS = 8

# Common English words at the head of the Zipf ranking, so the corpus
# looks like text to the grep pattern (`th[ei]`) and the tokenizer.
HEAD_WORDS = ("the of and to in a is that it was he for on are as with his "
              "they at be this from have or by one had not but what all were "
              "when we there can an your which their said if do will each "
              "about how up out them then she many some so these would other "
              "into has more her two like him see time could no make than "
              "first been its who now people my made over did down only way "
              "find use may water long little very after words called just "
              "where most know get through back much go good new write our "
              "used me man too any day same right look think also around "
              "another came come work three word must because does part").split()


def _write(table, path, row_groups):
    """Write `table` as one parquet file with exactly `row_groups`
    row groups (fewer only if the table has fewer rows)."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    n = table.num_rows
    size = max(1, -(-n // row_groups))
    pq.write_table(table, path, row_group_size=size, compression="snappy")
    meta = pq.ParquetFile(path).metadata
    return {"bytes": os.path.getsize(path), "rows": meta.num_rows,
            "files": 1, "row_groups": meta.num_row_groups}


def _vocab(rng):
    """Head words, then seeded letter strings, all distinct."""
    words = list(dict.fromkeys(HEAD_WORDS))
    seen = set(words)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    while len(words) < TEXT_VOCAB:
        n = TEXT_VOCAB - len(words)
        chars = letters[rng.integers(0, 26, (n, 10))]
        lens = rng.integers(3, 11, n)
        for row, ln in zip(chars, lens):
            w = "".join(row[:ln])
            if w not in seen:
                seen.add(w)
                words.append(w)
    return np.array(words, dtype=object)


def _docs_text(rng, vocab, n_docs, tokens_per_doc):
    weights = 1.0 / np.arange(1, len(vocab) + 1) ** TEXT_ZIPF_S
    probs = weights / weights.sum()
    lens = rng.integers(tokens_per_doc // 2, tokens_per_doc * 3 // 2 + 1, n_docs)
    toks = vocab[rng.choice(len(vocab), int(lens.sum()), p=probs)]
    # sentence breaks and capitalised sentence starts: the tokenizer
    # splits on every non-letter run, and case is part of the word
    seps = np.where(rng.random(len(toks)) < 0.08, ". ", " ").astype(object)
    cap = np.roll(seps == ". ", 1)
    toks = np.where(cap, np.char.capitalize(toks.astype(str)).astype(object), toks)
    pieces = toks + seps
    out, i = [], 0
    for ln in lens:
        out.append("".join(pieces[i:i + ln]).strip())
        i += ln
    return out, int(lens.sum())


def gen_text(rng, d):
    vocab = _vocab(rng)
    texts, n_tokens = _docs_text(rng, vocab, TEXT_DOCS, TEXT_TOKENS_PER_DOC)
    doc_ids = np.arange(TEXT_DOCS, dtype=np.int64)
    docs = pa.table({
        "doc_id": doc_ids,
        "text": texts,
        "lang": ["en"] * TEXT_DOCS,
        "source": [f"src{i % 16}" for i in range(TEXT_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    tables = {"documents": _write(docs, f"{d}/documents.parquet", TEXT_ROW_GROUPS)}

    # the same corpus as text files for the typed API: document i goes
    # to file i % TEXT_FILES, one document per line
    os.makedirs(f"{d}/text", exist_ok=True)
    nbytes = 0
    for f in range(TEXT_FILES):
        p = f"{d}/text/part-{f:04d}.txt"
        with open(p, "w") as fh:
            fh.write("\n".join(texts[f::TEXT_FILES]) + "\n")
        nbytes += os.path.getsize(p)
    tables["text"] = {"bytes": nbytes, "rows": TEXT_DOCS, "files": TEXT_FILES,
                      "row_groups": 0}

    # seeded slice for Dedup.cdcDedup, with planted near-copies: a copy
    # keeps a document's text but changes one word near its start, so
    # content-defined chunks after the edit are shared
    pick = rng.choice(TEXT_DOCS, CDC_SLICE_DOCS - CDC_SLICE_COPIES, replace=False)
    base = [texts[i] for i in pick]
    srcs = rng.choice(len(base), CDC_SLICE_COPIES)
    copies = []
    for s in srcs:
        words = base[s].split(" ")
        words[min(1, len(words) - 1)] = str(vocab[rng.integers(len(vocab))])
        copies.append(" ".join(words))
    slice_text = base + copies
    ids = np.concatenate([pick, TEXT_DOCS + np.arange(CDC_SLICE_COPIES)]).astype(np.int64)
    sl = pa.table({
        "doc_id": ids,
        "text": slice_text,
        "lang": ["en"] * len(ids),
        "source": ["slice"] * len(ids),
        "n_chars": np.array([len(t) for t in slice_text], dtype=np.int64),
    })
    tables["slice/documents"] = _write(sl, f"{d}/slice/documents.parquet", 1)
    return tables, {"tokens": n_tokens, "text_files": TEXT_FILES}


def _lineitem(rng):
    lines = rng.integers(1, 8, GRAPH_ORDERS)            # 1..7 lines per order
    okeys = np.sort(rng.choice(GRAPH_ORDERS * 4, GRAPH_ORDERS, replace=False)) + 1
    lo = np.repeat(okeys, lines).astype(np.int64)
    ln = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    lp = rng.integers(1, GRAPH_PARTS + 1, len(lo)).astype(np.int64)
    return pa.table({
        "l_orderkey": lo,
        "l_partkey": lp,
        "l_suppkey": rng.integers(1, 101, len(lo)).astype(np.int64),
        "l_linenumber": ln,
        "l_quantity": rng.integers(1, 51, len(lo)).astype(np.float64),
    })


def _copurchase(li):
    """(u, v) co-purchase edges, u < v: Graph.coPurchaseEdges,
    recomputed here so the stream files hold exactly the graph the
    round loops read from lineitem."""
    items = li.select(["l_orderkey", "l_partkey"]).to_pandas().drop_duplicates()
    items.columns = ["o", "p"]
    pairs = items.merge(items, on="o")
    pairs = pairs[pairs.p_x < pairs.p_y]
    e = pairs[["p_x", "p_y"]].drop_duplicates().sort_values(["p_x", "p_y"])
    e.columns = ["u", "v"]
    return e.astype(np.int64).reset_index(drop=True)


def gen_iterative(rng, d):
    li = _lineitem(rng)
    tables = {"lineitem": _write(li, f"{d}/lineitem.parquet", GRAPH_ROW_GROUPS)}
    e = _copurchase(li)
    e = e.iloc[rng.permutation(len(e))].reset_index(drop=True)
    # arrival order is file modification order: stamp each file a
    # second apart so the file source drains them in seeded order
    t0 = 1_700_000_000
    nbytes = 0
    for k, idx in enumerate(np.array_split(np.arange(len(e)), STREAM_FILES)):
        sub = e.iloc[idx].rename(columns={"u": "doc_a", "v": "doc_b"})[["doc_a", "doc_b"]]
        p = f"{d}/stream/pairs/part-{k:04d}.parquet"
        os.makedirs(os.path.dirname(p), exist_ok=True)
        pq.write_table(pa.Table.from_pandas(sub, preserve_index=False), p)
        os.utime(p, (t0 + k, t0 + k))
        nbytes += os.path.getsize(p)
    tables["stream/pairs"] = {"bytes": nbytes, "rows": len(e), "files": STREAM_FILES,
                              "row_groups": STREAM_FILES}
    return tables, {}


def gen_ann(rng, d):
    centers = rng.normal(0.0, 1.0, (ANN_CLUSTERS, ANN_DIM))
    labels = rng.integers(0, ANN_CLUSTERS, ANN_VECTORS)
    spread = rng.uniform(0.25, 0.45, ANN_CLUSTERS)
    emb = centers[labels] + rng.normal(0.0, 1.0, (ANN_VECTORS, ANN_DIM)) * spread[labels, None]
    emb = emb.astype(np.float32)
    t = pa.table({
        "vec_id": np.arange(ANN_VECTORS, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return {"embeddings": _write(t, f"{d}/embeddings.parquet", ANN_ROW_GROUPS)}


def gen_single_pass(rng, d):
    tables, facts = gen_text(rng, d)
    tables.update(gen_ann(rng, d))
    return tables, dict(facts, vectors=ANN_VECTORS)


GENERATORS = {
    "single_pass": gen_single_pass,
    "iterative": gen_iterative,
}


def generate(workload, seed, d):
    """Write `workload`'s inputs for `seed` under `d`; return the
    manifest (also written to `d/manifest.json`)."""
    t0 = time.perf_counter()
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    tables, facts = GENERATORS[workload](rng, d)
    manifest = {"seed": seed, "workload": workload, "tables": tables,
                "facts": facts, "generate_s": time.perf_counter() - t0}
    with open(f"{d}/manifest.json", "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    return manifest
