"""Make OPS_AT_SCALE_*.json read alone (round-13 verdict task 3 /
round-12 "What's wrong #1"): the round-12 file interleaves rows
recorded under DIFFERENT code and corpus states — three pre-regexp-fix
text_profile readings (469/415/408 s) and pre-wordy-corpus minhash
runs (out_rows 0: the generated texts were single unshingleable
tokens) precede the post-fix row (43.9 s) — so a reader re-deriving
throughput from the raw JSONL inherits a 9x error. This is the same
artifact-reads-alone standard applied to SCALING.md (round 10) and
EMBED_BAND.jsonl (round 11, by a band report tool since deleted,
whose supersession discipline this mirrors).

Supersession rules:
- rows carrying an explicit ``commit`` field (round 13+, written by
  the updated tools/ops_at_scale.py) are self-identifying;
- historical OPS_AT_SCALE_r12.json rows are classified from run
  history (recorded in SCALING.md §round-12 at the time): rows 0-2
  ran BEFORE commit aca0731 ("Fix the negated-class regexp hot
  path") — their text_profile walls price the ~20 us/doc lone
  negated-class regexp_count, superseded; their
  minhash_near_dup_5.88m entries ran on the pre-wordy corpus whose
  single-token texts cannot shingle (out_rows 0 — a corpus defect,
  not an operator reading), superseded;
- row 3 is the post-fix full-corpus batch (authoritative for
  dedup_exact / text_profile / gopher_gate; its minhash entry is
  still the unshingleable corpus, superseded);
- row 4 (minhash on the wordy corpus, 450,000 == planted pairs) and
  row 5 (dedup_against, survivors == exact oracle) are authoritative.
- per (metric, op) the LATEST non-superseded reading wins.

Prints one line per (op): authoritative wall/rows + how many
superseded readings it displaced, then the superseded rows with the
reason. Exits nonzero if any op has NO authoritative reading.

Usage: python tools/ops_at_scale_report.py [jsonl ...]
       (default: OPS_AT_SCALE_r12.json + _r13.json at the repository root,
        if present)
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEFAULT = [
    os.path.join(REPO, "OPS_AT_SCALE_r12.json"),
    os.path.join(REPO, "OPS_AT_SCALE_r13.json"),
]

# (file basename, row index) -> reason a row (or one op inside it) is
# superseded. Only needed for pre-round-13 rows without a commit stamp.
R12 = "OPS_AT_SCALE_r12.json"
SUPERSEDED_ROWS = {
    (R12, 0): "pre-regexp-fix code (before aca0731)",
    (R12, 1): "pre-regexp-fix code (before aca0731)",
    (R12, 2): "pre-regexp-fix code (before aca0731)",
}
# ops superseded in EVERY r12 'operators_at_6m_docs' row, including
# the post-fix row 3: the corpus defect, not the code version
SUPERSEDED_OPS = {
    (R12, "minhash_near_dup_5.88m"):
        "pre-wordy corpus: single-token texts cannot shingle (out_rows 0)",
}


# a superseded op whose authoritative reading lives under a NEW name
# (the corpus was rebuilt wordy and the op re-run under a disambiguated
# label)
SUCCESSOR = {"minhash_near_dup_5.88m": "minhash_near_dup_5.88m_wordy"}


def rows_from(path: str):
    base = os.path.basename(path)
    with open(path) as f:
        for i, line in enumerate(f):
            line = line.strip()
            if line:
                yield base, i, json.loads(line)


def flatten(base: str, i: int, row: dict):
    """Yield (op, reading dict, superseded_reason | None)."""
    row_reason = SUPERSEDED_ROWS.get((base, i))
    res = row.get("results")
    if isinstance(res, dict):
        for op, v in res.items():
            reason = row_reason or SUPERSEDED_OPS.get((base, op))
            yield op, {**v, "row": f"{base}:{i}",
                       "out_rows": v.get("out_rows", v.get("survivors")),
                       "commit": row.get("commit", "unstamped-r12")}, reason
    else:
        # single-measurement rows (e.g. dedup_against_at_scale)
        yield row["metric"], {
            "wall_sec": row.get("wall_sec"),
            "out_rows": row.get("survivors"),
            "row": f"{base}:{i}",
            "commit": row.get("commit", "unstamped-r12"),
        }, row_reason


def main() -> None:
    paths = sys.argv[1:] or [p for p in DEFAULT if os.path.exists(p)]
    auth: dict[str, dict] = {}
    displaced: dict[str, int] = {}
    dead: list[tuple[str, dict, str]] = []
    for path in paths:
        for base, i, row in rows_from(path):
            for op, reading, reason in flatten(base, i, row):
                if reason:
                    dead.append((op, reading, reason))
                    continue
                if op in auth:
                    displaced[op] = displaced.get(op, 0) + 1
                auth[op] = reading  # latest authoritative wins
    print("# OPS_AT_SCALE — authoritative readings (latest non-superseded)")
    for op, r in sorted(auth.items()):
        extra = f" (+{displaced[op]} earlier authoritative)" if op in displaced else ""
        print(
            f"  {op}: wall {r.get('wall_sec')}s, rows {r.get('out_rows')}"
            f"  [{r['row']} commit={r['commit']}]{extra}"
        )
    print(f"\n# superseded readings: {len(dead)}")
    for op, r, reason in dead:
        print(f"  {op}: wall {r.get('wall_sec')}s rows {r.get('out_rows')}"
              f" [{r['row']}] — {reason}")
    missing = [
        op for op, r, _ in dead
        if op not in auth and SUCCESSOR.get(op) not in auth
    ]
    if missing:
        print(f"\nERROR: superseded-only ops with no authoritative reading: "
              f"{sorted(set(missing))}")
        sys.exit(1)


if __name__ == "__main__":
    main()
