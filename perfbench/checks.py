"""Output checks: every operation the benchmark times is also checked.

Batch queries are compared against their DuckDB ``oracle_sql`` twin
with ``tools/check_oracle.py``'s row normalisation and comparison.
The two hash-dependent queries without a twin (rows-only) are compared
against a digest recorded on the seed tree (``digests.json``); for a
seed with no recorded digest they must at least report every planted
exact-duplicate pair, which any correct near-dup operator finds.

Streams are compared against the batch twin ``scanner.scan`` over the
same capture and dimensions: the same flagged titles, no title twice,
and every event delivered exactly once.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re

import duckdb

from rc_scanner_spark import TABLES
from tools.check_oracle import df_to_rows, rows_equal

DIGESTS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")


def rows_digest(pdf) -> str:
    cols, rows = df_to_rows(pdf)
    return hashlib.sha256(repr((cols, rows)).encode()).hexdigest()


def load_digests() -> dict:
    try:
        with open(DIGESTS_PATH, encoding="utf-8") as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def digest_key(sf: float, seed: int) -> str:
    return f"sf{sf}/seed{seed}"


class Oracle:
    """DuckDB views over one generated input directory."""

    def __init__(self, data_dir: str):
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )

    def close(self) -> None:
        self.con.close()

    def check(self, name: str, sql: str | None, pdf, recorded: dict) -> str | None:
        """None when ``pdf`` (the Spark output) is right, else why not."""
        if sql is None:
            want = recorded.get(name)
            if want is not None:
                return None if rows_digest(pdf) == want else "rows-only digest differs"
            return self._planted_pairs(pdf)
        odf = self.con.execute(sql).df()
        scols, srows = df_to_rows(pdf)
        ocols, orows = df_to_rows(odf)
        if scols != ocols:
            return f"columns {scols} != {ocols}"
        ok, why = rows_equal(srows, orows)
        return None if ok else f"{why} (spark={len(srows)} oracle={len(orows)} rows)"

    def _planted_pairs(self, pdf) -> str | None:
        ids = [c for c in pdf.columns if c.endswith("_a") or c.endswith("_b")]
        if len(ids) != 2:
            return f"no pair columns in {list(pdf.columns)}"
        got = {tuple(sorted(p)) for p in pdf[ids].itertuples(index=False)}
        if len(got) != len(pdf):
            return "duplicate pairs"
        docs = self.con.execute("SELECT doc_id, text FROM documents").fetchall()
        groups: dict[str, list[int]] = {}
        for doc_id, text in docs:
            groups.setdefault(re.sub(r"\s+", " ", text.lower()).strip(), []).append(doc_id)
        for members in groups.values():
            for i, a in enumerate(members):
                for b in members[i + 1:]:
                    if (min(a, b), max(a, b)) not in got:
                        return f"planted duplicate pair ({a}, {b}) missing"
        return None


def read_sink(out_dir: str) -> tuple[list[dict], int, int]:
    """Rows, part-file count and bytes of a flag-log sink directory."""
    rows: list[dict] = []
    files = 0
    size = 0
    for path in sorted(glob.glob(os.path.join(out_dir, "epoch=*", "part-*"))):
        files += 1
        size += os.path.getsize(path)
        with open(path, encoding="utf-8") as f:
            rows.extend(json.loads(line) for line in f if line.strip())
    return rows, files, size


def check_stream(
    sink_rows: list[dict],
    expected_titles: set[str],
    batches: list[dict],
    n_events: int,
) -> list[str]:
    """Problems with one stream run, each worth one failed operation:
    a missing or extra flagged title, a title flagged twice, an event
    not delivered or delivered twice."""
    problems: list[str] = []
    titles = [r["title"] for r in sink_rows]
    seen: set[str] = set()
    for t in titles:
        if t in seen:
            problems.append(f"title flagged twice: {t}")
        seen.add(t)
    problems += [f"flag missing: {t}" for t in sorted(expected_titles - seen)]
    problems += [f"unexpected flag: {t}" for t in sorted(seen - expected_titles)]
    delivered = sum(b["rows"] for b in batches)
    pos = 0
    for b in sorted(batches, key=lambda b: b["batch_id"]):
        if b["start"] != pos or b["end"] - b["start"] != b["rows"]:
            problems.append(f"batch {b['batch_id']} covers {b['start']}..{b['end']} "
                            f"with {b['rows']} rows after offset {pos}")
        pos = b["end"]
    if delivered != n_events or pos != n_events:
        problems += ["event not delivered once"] * max(1, abs(n_events - delivered))
    return problems
