"""Correctness gate: digests, pipeline invariants, pins and the corpus
oracle.

Every check returns a list of error strings; an empty list passes.
Outputs are read back from the parquet sinks with pyarrow, so the gate
runs outside the timed region and never goes through Spark.
"""

from __future__ import annotations

import hashlib
import json
import os

import pyarrow as pa

SIGN_OFF = "Pozdrawiam! 🦀"
PINS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")
_MASK = (1 << 64) - 1


def _canon(v):
    if isinstance(v, float):
        return repr(round(v, 9))
    if isinstance(v, dict):
        return tuple((k, _canon(v[k])) for k in sorted(v))
    if isinstance(v, list):
        items = [_canon(x) for x in v]
        # maps arrive as lists of (key, value) pairs in no fixed order
        return tuple(sorted(items, key=repr)) if v and isinstance(v[0], tuple) else tuple(items)
    if isinstance(v, tuple):
        return tuple(_canon(x) for x in v)
    return v


def digest(table: pa.Table) -> list:
    """[rows, hex]: an order-independent content digest — the sum of
    per-row 64-bit hashes over the columns in name order."""
    cols = sorted(table.column_names)
    acc = 0
    for row in table.select(cols).to_pylist():
        h = hashlib.blake2b(repr(_canon(row)).encode(), digest_size=8).digest()
        acc = (acc + int.from_bytes(h, "little")) & _MASK
    return [table.num_rows, f"{acc:016x}"]


def pipeline_invariants(out: dict[str, pa.Table], changesets: pa.Table) -> list[str]:
    """The seed-independent invariants of tests/test_pipeline.py."""
    errors = []
    issues, reports = out["issues"], out["reports"]
    cs = changesets.select(["changeset_id", "open", "created_by"]).to_pydict()
    open_ids = {c for c, o in zip(cs["changeset_id"], cs["open"]) if o}
    blacklisted = {
        c for c, b in zip(cs["changeset_id"], cs["created_by"]) if b and "streetcomplete" in b.lower()
    }
    issue_cs = set(issues.column("changeset_id").to_pylist())
    if issues.num_rows == 0:
        errors.append("no issues")
    if issue_cs & open_ids:
        errors.append(f"{len(issue_cs & open_ids)} open changesets in issues")
    if issue_cs & blacklisted:
        errors.append(f"{len(issue_cs & blacklisted)} blacklisted changesets in issues")
    issue_keys = set(zip(issues.column("category").to_pylist(), issues.column("changeset_id").to_pylist()))
    report_keys = set(zip(reports.column("category").to_pylist(), reports.column("changeset_id").to_pylist()))
    if issue_keys != report_keys:
        errors.append(f"report keys != issue keys ({len(report_keys ^ issue_keys)} differ)")
    unsigned = sum(1 for m in reports.column("message").to_pylist() if not m.endswith(SIGN_OFF))
    if unsigned:
        errors.append(f"{unsigned} messages without the sign-off")
    if out["overlap"].num_rows == 0:
        errors.append("empty overlap report")
    return errors


def consistent(ops: list[dict]) -> list[str]:
    """A traced op must produce the same digests as the untraced op with
    the same key (the same window, or the same corpus pass)."""
    untraced = {op["key"]: op["digests"] for op in ops if op["kind"] != "traced"}
    return [
        f"{op['key']}: traced digests {op['digests']} != untraced {untraced[op['key']]}"
        for op in ops
        if op["kind"] == "traced" and op["key"] in untraced and op["digests"] != untraced[op["key"]]
    ]


def load_pins() -> dict:
    with open(PINS_PATH) as f:
        return json.load(f)


def check_pins(workload: str, params: dict, ops: list[dict]) -> tuple[bool, list[str]]:
    """(applied, errors): compare each op's digests with the pins when
    the run used the workload's pinned parameters (default seed and
    sizes). Ops past the pinned ones are covered by the other checks."""
    pin = load_pins().get(workload)
    if not pin or pin["params"] != params:
        return False, []
    errors = []
    for op in ops:
        want = pin["outputs"].get(op["key"])
        if want is not None and want != op["digests"]:
            errors.append(f"{op['key']}: digests {op['digests']} != pinned {want}")
    return True, errors


# ------------------------------------------------------------ corpus oracle
def _pairs(table: pa.Table, *cols: str) -> set:
    return set(zip(*(table.column(c).to_pylist() for c in cols)))


def corpus_oracle(docs: pa.Table, out: dict[str, pa.Table]) -> list[str]:
    """Compare the corpus outputs with the DuckDB oracle SQL of
    ``__spark_entry__`` for the calls run with the oracle's parameters.
    ``ngram_jaccard_pairs`` runs at its default ``max_df``, so it is held
    to the under-estimate-only property instead of equality."""
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        con.register("documents", docs)

        def q(name: str) -> pa.Table:
            return con.execute(sql[name]).fetch_arrow_table()

        errors = []
        for name, key, cols in (
            ("corpus_dedup_keep", "keep", ("doc_id", "lang")),
            ("dedup_simhash_near_pairs", "simhash_pairs", ("doc_a", "doc_b", "hamming")),
            ("text_winnow_overlap_pairs", "winnow_pairs", ("doc_a", "doc_b", "shared_fps")),
        ):
            want, got = _pairs(q(name), *cols), _pairs(out[key], *cols)
            if want != got:
                errors.append(f"{key}: {len(got - want)} extra / {len(want - got)} missing rows vs oracle")
        exact = {(a, b): j for a, b, j in _pairs(q("dedup_ngram_jaccard"), "doc_a", "doc_b", "jaccard")}
        for a, b, j in _pairs(out["ngram"], "doc_a", "doc_b", "jaccard"):
            if (a, b) not in exact or round(j, 6) > exact[(a, b)] + 1e-6:
                errors.append(f"ngram: pair ({a}, {b}) jaccard {j} over-estimates the exact value")
                break
        return errors
    finally:
        con.close()
