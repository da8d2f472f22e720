"""Corpus-prep operators at 500k docs — scale datapoints beyond the
5k-doc sf0.1 fixtures (companion to bench_clusters_scale.py; same
deterministic generated corpus, so runs are comparable).

Covers the round-4 hash-key/shuffle work:
  dedup_spans        128-bit md5 window keys through the count exchange
  boilerplate_lines  128-bit line keys + broadcast anti-join removal
  lm_score           bigram-LM train + score (two counts + one join)
  decontaminate      hash64-prefilter vs plain broadcast (every 50th
                     doc plays the benchmark)

Each op returns a row per doc; throughput = docs/sec end-to-end.
Usage: BENCH_CORPUS_DOCS=500000 python tools/bench_corpus_scale.py
Prints one JSON line; record in BENCH.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from lambdo_spark.session import get_spark, host_resources
from lambdo_spark.sources.documents import generate_documents

N_DOCS = int(os.environ.get("BENCH_CORPUS_DOCS", "500000"))


def main() -> None:
    cpus, _ = host_resources()
    spark = get_spark(
        app_name="bench_corpus_scale",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.sql.files.maxPartitionBytes": str(4 * 1024 * 1024),
            "spark.sql.files.openCostInBytes": str(512 * 1024),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(0, int(cpus) * 4, numPartitions=int(cpus) * 4).mapInPandas(
        lambda it: it, schema="id long"
    ).count()

    path = f"/tmp/lambdo_bench_docs_{N_DOCS}"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        generate_documents(
            spark, N_DOCS, seed=42, partitions=int(cpus) * 4
        ).write.mode("overwrite").parquet(path)
    docs = spark.read.parquet(path)
    bench_docs = docs.where(F.pmod(F.col("doc_id"), F.lit(50)) == 0)

    from lambdo_spark.functions.exact_substr import remove_duplicate_spans
    from lambdo_spark.functions.text import remove_boilerplate_lines
    from lambdo_spark.functions.lm import lm_score
    from lambdo_spark.functions.contamination import decontaminate

    from lambdo_spark.functions.bpe import bpe_encode, train_bpe
    from lambdo_spark.functions.ir import bm25_scores, tfidf_scores
    from lambdo_spark.functions.semdedup import semdedup
    from lambdo_spark.sources.pages import _splitmix64 as _np_splitmix

    def _bpe():
        # training cost here is the one corpus scan (the synthetic
        # vocab is tiny); encode is the per-doc throughput surface
        merges = train_bpe(docs, 16)
        return bpe_encode(docs, merges).select("doc_id", "n_tokens")

    def _embeddings(d=32):
        # deterministic synthetic embeddings keyed on doc_id — unit
        # work matches the real column (array<float>, d=32)
        import numpy as np
        import pandas as pd

        def gen(it):
            for pdf in it:
                ids = pdf["doc_id"].to_numpy()
                rng_mat = np.empty((len(ids), d), dtype=np.float64)
                for col in range(d):
                    h = _np_splitmix(ids.astype(np.uint64) * np.uint64(d) + np.uint64(col))
                    rng_mat[:, col] = (h % np.uint64(2_000_001)).astype(np.float64) / 1e6 - 1.0
                yield pd.DataFrame({
                    "vec_id": ids,
                    "embedding": [row.astype(np.float32).tolist() for row in rng_mat],
                })

        return docs.select("doc_id").mapInPandas(
            gen, schema="vec_id long, embedding array<float>"
        )

    emb = _embeddings()

    ops = {
        "dedup_spans_hash128": lambda: remove_duplicate_spans(
            docs, span_tokens=8, min_count=2
        ),
        "dedup_spans_text": lambda: remove_duplicate_spans(
            docs, span_tokens=8, min_count=2, key="text"
        ),
        "boilerplate_lines": lambda: remove_boilerplate_lines(
            docs, group_cols=("source",), min_docs=5
        ),
        "lm_score": lambda: lm_score(docs),
        "decontaminate_plain": lambda: decontaminate(docs, bench_docs, n=8),
        "decontaminate_hash64": lambda: decontaminate(
            docs, bench_docs, n=8, prefilter="hash64"
        ),
        # continuation-session ops. Expected-row contracts:
        #   bpe/tfidf/bm25 — closed forms below; semdedup — survivors
        #   ≤ N and > 0 (random vectors: expect nearly all survive)
        "bpe_train_encode": _bpe,
        "bm25_search": lambda: bm25_scores(docs, ["alpha", "tango", "zulu"]),
        "tfidf_terms": lambda: tfidf_scores(docs, ["alpha", "delta", "zulu"]),
        # k ≈ √N is the SemDeDup operating point (expected cell ≈ √N
        # keeps the per-cell Gram work linear in N overall)
        "semdedup_sqrtN": lambda: semdedup(
            emb, tau=0.8, k=max(64, int(N_DOCS ** 0.5)), iters=0
        ),
    }
    expected = {
        "bpe_train_encode": lambda n: n == N_DOCS,
        # every 40-token doc over a 26-word pool contains a given word
        # with p ≈ 1-(25/26)^40 ≈ 0.79 — scoring rows < N but > N/2
        "bm25_search": lambda n: N_DOCS // 2 < n <= N_DOCS,
        "tfidf_terms": lambda n: N_DOCS < n <= 3 * N_DOCS,
        "semdedup_sqrtN": lambda n: 0 < n <= N_DOCS,
    }
    walls, rows = {}, {}
    for name, fn in ops.items():
        t0 = time.time()
        df = fn()
        # noop sink: count() alone is join-eliminated on these
        # doc-shaped outputs (Catalyst proves the aggregated join side
        # unique and counts the bare id column — measured, see
        # bench.py run_forced) — the noop write forces every column
        df.write.format("noop").mode("overwrite").save()
        rows[name] = df.count()
        walls[name] = round(time.time() - t0, 3)
        print(f"{name}: {walls[name]}s rows={rows[name]}", file=sys.stderr)
        check = expected.get(name, lambda n: n == N_DOCS)
        assert check(rows[name]), (name, rows[name])
    print(json.dumps({
        "metric": "corpus_ops_scale",
        "docs": N_DOCS,
        "cpus": cpus,
        "walls_sec": walls,
        "docs_per_sec": {k: int(N_DOCS / v) for k, v in walls.items()},
    }))


if __name__ == "__main__":
    main()
