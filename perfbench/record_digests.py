"""Record the rows-only digests the batch check compares against.

The headline queries without a DuckDB twin (hash-dependent near-dup
operators) are checked against the digest of their output recorded on
a known-good tree, per input seed.  Run this on a tree whose outputs
are trusted, and only then; it rewrites ``perfbench/digests.json``.

Usage: python3 perfbench/record_digests.py --seeds 0-99 [--sf 0.01]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
from checks import DIGESTS_PATH, digest_key, load_digests, rows_digest  # noqa: E402
from worker import batch_queries  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", required=True, help="inclusive range, e.g. 0-99")
    ap.add_argument("--sf", type=float, default=0.01)
    args = ap.parse_args()
    lo, hi = (int(x) for x in args.seeds.split("-"))

    import pyarrow.parquet as pq

    from rc_scanner_spark.operators.dedup import release_caches
    from rc_scanner_spark.queries import build_registry
    from rc_scanner_spark.session import get_spark

    spark = get_spark("perfbench-digests")
    registry = build_registry()
    rows_only = [q for q in batch_queries() if registry[q].sql is None]
    digests = load_digests()
    n_docs = datagen.sizes(args.sf)["documents"]
    with tempfile.TemporaryDirectory() as tmp:
        for seed in range(lo, hi + 1):
            data = os.path.join(tmp, f"seed{seed}")
            os.makedirs(data)
            pq.write_table(datagen.documents_table(seed, n_docs),
                           os.path.join(data, "documents.parquet"))
            entry = digests.setdefault(digest_key(args.sf, seed), {})
            for q in rows_only:
                spark.catalog.clearCache()
                release_caches()
                entry[q] = rows_digest(registry[q].fn(spark, data).toPandas())
            print(seed, entry, flush=True)
    with open(DIGESTS_PATH, "w", encoding="utf-8") as f:
        json.dump(digests, f, indent=1, sort_keys=True)
        f.write("\n")
    spark.stop()


if __name__ == "__main__":
    main()
