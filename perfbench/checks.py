"""Output checks over the outputs the benchmark JVM wrote in its warm
pass (one parquet directory per job), for the checks that need no
Spark: the typed MapReduce API against graft's TextOps outputs, and
IVF-PQ recall against the exact top-k. Each check returns
({job: failure}, {metric: value}).
"""
import pyarrow.parquet as pq


def _cols(path, *names):
    t = pq.read_table(path, columns=list(names))
    return [t.column(n).to_pylist() for n in names]


def single_pass(outputs, params, facts):
    fails, metrics = {}, {}

    # typed word count == TextOps.wordCount (mr_wordcount, itself
    # checked against the DuckDB oracle)
    want = sorted(zip(*_cols(outputs["mr_wordcount"], "word", "cnt")))
    got = sorted(zip(*_cols(outputs["mr_typed_wordcount"], "word", "cnt")))
    if got != want:
        fails["mr_typed_wordcount"] = (
            f"typed MapReduce != TextOps word count: {len(set(got) ^ set(want))} rows differ")

    # typed indexer == TextOps.invertedIndex with each document mapped
    # to its text file (document i is in file i % text_files)
    n_files = facts["text_files"]
    want = {}
    for word, docs in zip(*_cols(outputs["mr_inverted_index"], "word", "docs")):
        files = sorted({int(d) % n_files for d in docs.split(",")})
        want[word] = f"{len(files)} {','.join(map(str, files))}"
    got = dict(zip(*_cols(outputs["mr_typed_indexer"], "word", "entry")))
    if got != want:
        bad = sum(1 for w in set(got) | set(want) if got.get(w) != want.get(w))
        fails["mr_typed_indexer"] = f"typed MapReduce != TextOps inverted index: {bad} words differ"

    # IVF-PQ recall@k against the exact brute-force top-k
    q, k = params["ann_queries"], params["ann_k"]
    exact = set(zip(*_cols(outputs["sim_bruteforce_topk"], "query_id", "corpus_id")))
    approx = set(zip(*_cols(outputs["sim_ann_ivfpq"], "query_id", "corpus_id")))
    if len(exact) != q * k:
        fails["sim_bruteforce_topk"] = f"{len(exact)} (query, neighbour) pairs, want {q * k}"
    recall = len(exact & approx) / (q * k)
    metrics["ann.recall_at_10"] = recall
    if recall < params["ann_recall_floor"]:
        fails["sim_ann_ivfpq"] = f"recall@{k} {recall:.3f} < {params['ann_recall_floor']}"
    return fails, metrics


CHECKS = {"single_pass": single_pass}


def run(workload, outputs, params, facts):
    if workload not in CHECKS:
        return {}, {}
    return CHECKS[workload](outputs, params, facts)
