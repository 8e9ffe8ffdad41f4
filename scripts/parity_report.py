"""Generate PARITY.md: triple-level P/R of the engine vs the golden
fixture suite (the BASELINE.json P/R >= 0.95 gate), for both the pure
per-document engine and the distributed Spark triples_stage path.

Usage: python scripts/parity_report.py
"""

from __future__ import annotations

import json
import pathlib
import sys

REPO = pathlib.Path(__file__).parent.parent
sys.path.insert(0, str(REPO))

from json_ld_spark.api import to_rdf  # noqa: E402
from json_ld_spark.canonicalize import canonicalize_quads  # noqa: E402
from json_ld_spark.options import JsonLdOptions  # noqa: E402

# every suite version, discovered by glob — a new golden_suite_vN.json
# is automatically counted (v6+ used to be silently missing here)
CASES = [
    c
    for f in sorted((REPO / "tests/fixtures").glob("golden_suite*.json"))
    for c in json.loads(f.read_text())["cases"]
]


def main() -> None:
    rows = []
    tp = fp = fn = 0
    n_exp = n_flat = n_err = n_comp = 0
    for case in CASES:
        if "expanded" in case:
            n_exp += 1
        if "flattened" in case:
            n_flat += 1
        if "compacted" in case:
            n_comp += 1
        if ("expand_error" in case or "flatten_error" in case
                or "compact_error" in case):
            n_err += 1
        if "quads" not in case:
            continue
        opts = JsonLdOptions(
            base=case.get("base"),
            rdf_direction=case.get("rdf_direction"),
            produce_generalized_rdf=case.get("produce_generalized_rdf", False),
        )
        got = set(canonicalize_quads(to_rdf(case["input"], options=opts)))
        exp = set(canonicalize_quads([tuple(q) for q in case["quads"]]))
        i = len(got & exp)
        tp += i
        fp += len(got - exp)
        fn += len(exp - got)
        p = i / len(got) if got else 1.0
        r = i / len(exp) if exp else 1.0
        rows.append((case["name"], len(exp), round(p, 3), round(r, 3)))

    precision = tp / (tp + fp) if tp + fp else 1.0
    recall = tp / (tp + fn) if tp + fn else 1.0

    lines = [
        "# PARITY — triple P/R vs golden suite",
        "",
        "Generated by `python scripts/parity_report.py`; rerun it to refresh.",
        "",
        "Gate (BASELINE.json): triple P/R >= 0.95 vs the reference's",
        "expand/flatten/toRdf suite. The official W3C json-ld-api fixtures",
        "are a git submodule NOT vendored in the read-only reference",
        "checkout (`/root/reference/tests/json-ld-api/` is empty) and this",
        "sandbox has no network, so the suite below re-states the expected",
        "outputs from the JSON-LD 1.1 API spec, case-for-case in the style",
        "of the W3C manifests. Quads compare modulo blank-node isomorphism",
        "via hash-canonical relabeling of BOTH sides (same oracle shape as",
        "the reference's `are_isomorphic_with`, tests/to_rdf.rs:166-170).",
        "",
        f"**Micro-averaged over {len(rows)} toRdf cases "
        f"({tp + fn} golden triples): precision = {precision:.3f}, "
        f"recall = {recall:.3f}** (gate: >= 0.95).",
        "",
        f"Also covered: {n_exp} expanded-form equality cases, {n_flat}",
        f"flattened-form cases, {n_comp} compacted-form cases, {n_err}",
        f"negative (error) cases (suite total {len(CASES)}; round 5",
        "added 39 cases on compact-IRI candidate selection",
        "(iri.rs:88-511), the IRI-confused-with-prefix family,",
        "keyword-like relative disambiguation, compact-time @nest",
        "validation and @import merge interactions, incl. 12 new",
        "compaction-side negatives — authoring them surfaced and",
        "fixed three real compaction bugs), plus the",
        "distributed-path gate (tests/test_golden_parity.py::"
        "test_spark_golden_pr_gate) running every positive case through",
        "Spark `triples_stage` with canonical bnode labels.",
        "",
        "Round-4 addition: the ONE fixture the reference DOES vendor —",
        "`tests/custom/t01-in.jsonld`, a real-world W3C Verifiable",
        "Credentials presentation with the vendored credentials/v1 and",
        "jws-2020/v1 contexts (the reference's custom.rs only asserts",
        "to_rdf completes; it exists to pin stack depth) — is pinned",
        "quad-for-quad in tests/test_reference_fixture.py: 13 quads incl.",
        "the @graph-container proof graph, exercising chained remote",
        "contexts, @protected terms and scoped contexts in one document.",
        "",
        "| case | golden triples | P | R |",
        "|---|---|---|---|",
    ]
    for name, n, p, r in rows:
        lines.append(f"| {name} | {n} | {p} | {r} |")
    (REPO / "PARITY.md").write_text("\n".join(lines) + "\n")
    print(f"P={precision:.3f} R={recall:.3f} over {len(rows)} cases -> PARITY.md")


if __name__ == "__main__":
    main()
