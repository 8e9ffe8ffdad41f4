"""Deterministic hash-based blank-node canonicalization (URDNA2015-style
color refinement, distributed-friendly).

Replaces the reference's sequential relabel
(crates/core/src/document/expanded.rs:99-115) and the bnode-bijection
isomorphism oracle of its test harness (tests/to_rdf.rs:166-170): after
both quad sets are relabeled through this function, isomorphism reduces
to exact (s,p,o,g) set equality — the P/R join of BASELINE.md.

The same signature-iteration runs distributed in
json_ld_spark.operators.canonical as DataFrame joins + groupBy; this
module is the per-document (in-UDF) version.
"""

from __future__ import annotations

import hashlib
from collections import defaultdict

from .iri import is_blank_node_id
from .rdf import Quad


def _h(s: str) -> str:
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


def _quad_signature(q: Quad, labels: dict[str, str], self_label: str) -> str:
    def term(t: str | None, is_node: bool) -> str:
        if t is None:
            return "~"
        if is_node and is_blank_node_id(t):
            if t == self_label:
                return "_:self"
            return labels.get(t, "_:other")
        return t

    graph, subj, pred, kind, obj, dt, lang = q
    return "|".join(
        [
            term(graph, True),
            term(subj, True),
            term(pred, True),  # blank predicates occur in generalized RDF
            kind,
            term(obj, kind in ("bnode",)),
            dt or "~",
            lang or "~",
        ]
    )


def canonical_bnode_labels(
    quads: list[Quad], rounds: int = 4, prefix: str = "c"
) -> dict[str, str]:
    """Map each blank label in quads → deterministic canonical label.

    Iterative refinement: each bnode's hash is the hash of its sorted
    incident-quad signatures, where other bnodes appear as their
    previous-round hash. Hash ties are broken by first-occurrence order of
    the sorted signature list (deterministic on both comparison sides).
    """
    # RDF datasets are quad SETS: duplicate quads (legal in the emission
    # stream, e.g. the node-map algorithm appends @list objects without a
    # uniqueness check) must not perturb the signatures
    quads = list(dict.fromkeys(quads))
    bnodes: set[str] = set()
    incident: dict[str, list[Quad]] = defaultdict(list)
    for q in quads:
        graph, subj, pred, kind, obj, _, _ = q
        for t, is_node in (
            (graph, True), (subj, True), (pred, True), (obj, kind == "bnode")
        ):
            if t is not None and is_node and is_blank_node_id(t):
                bnodes.add(t)
                incident[t].append(q)
    if not bnodes:
        return {}

    def refine(seeds: dict[str, str]) -> dict[str, str]:
        """Color refinement until the induced PARTITION stabilizes.

        Information travels one hop per round, so a fixed round count
        under-refines long chains (a k-element rdf list is a k-diameter
        bnode path; with 4 rounds every node >4 hops from both ends
        looked automorphic and tie-breaking leaked original labels).
        The partition provably stabilizes within |bnodes| rounds; the
        label-chaining (prev label mixed into the new hash) means raw
        labels never repeat, so stability must be checked on the
        partition, not the labels.
        """
        labels = {b: seeds.get(b, "") for b in bnodes}
        prev_partition = None
        for _ in range(max(rounds, len(bnodes) + 1)):
            new_labels = {}
            for b in bnodes:
                sigs = sorted(_quad_signature(q, labels, b) for q in incident[b])
                new_labels[b] = _h("\x1e".join(sigs) + "\x1f" + labels[b])
            labels = new_labels
            classes: dict[str, list[str]] = defaultdict(list)
            for b, lbl in labels.items():
                classes[lbl].append(b)
            partition = frozenset(frozenset(ms) for ms in classes.values())
            if partition == prev_partition:
                break
            prev_partition = partition
        return labels

    # URDNA2015-style symmetry breaking: refinement alone cannot separate
    # members of a non-trivial automorphism orbit (e.g. a directed bnode
    # ring — every node is structurally identical). Repeatedly mark ONE
    # member of the smallest-hash ambiguous group with a distinguishing
    # seed and re-refine. WHICH member is marked is decided like
    # URDNA2015's hash-n-degree-quads permutation step: try every member
    # of the group and keep the one whose re-refined labeling produces
    # the lexicographically least relabeled quad set. That comparison is
    # a pure function of graph structure (labels are content hashes), so
    # the choice never depends on input blank labels — this also covers
    # refinement-equivalent but NON-automorphic groups (regular/
    # CFI-style graphs), where a min(original-id) pick would leak input
    # labels into the output. Remaining gap vs full URDNA2015: the
    # exploration is greedy one-step (no recursive branch-and-bound), so
    # candidates whose one-step outcomes serialize identically fall back
    # to min(original id); for such candidates the one-step quad sets
    # are indistinguishable, which makes the fallback observable only in
    # adversarial constructions where deeper branching differs.
    def _serialize(lbls: dict[str, str]) -> str:
        rel = relabel_quads(quads, lbls)
        return "\x1e".join(
            sorted("|".join("~" if t is None else t for t in q) for q in rel)
        )

    seeds: dict[str, str] = {}
    labels = refine(seeds)
    for mark_no in range(len(bnodes)):
        groups: dict[str, list[str]] = defaultdict(list)
        for b in bnodes:
            groups[labels[b]].append(b)
        ambiguous = sorted(h for h, ms in groups.items() if len(ms) > 1)
        if not ambiguous:
            break
        best: tuple[str, str, dict[str, str]] | None = None
        for member in sorted(groups[ambiguous[0]]):
            trial = refine({**seeds, member: f"!mark{mark_no}"})
            ser = _serialize(trial)
            if best is None or ser < best[0]:
                best = (ser, member, trial)
        seeds[best[1]] = f"!mark{mark_no}"
        labels = best[2]

    # safety net for sha256 collisions that even marking cannot separate
    groups2: dict[str, list[str]] = defaultdict(list)
    for b in sorted(bnodes, key=lambda b: labels[b]):
        groups2[labels[b]].append(b)
    out: dict[str, str] = {}
    for hash_val, members in groups2.items():
        for i, b in enumerate(members):
            suffix = f"-{i}" if len(members) > 1 else ""
            out[b] = f"_:{prefix}{hash_val[:16]}{suffix}"
    return out


def relabel_quads(quads: list[Quad], mapping: dict[str, str]) -> list[Quad]:
    def m(t: str | None) -> str | None:
        if t is not None and is_blank_node_id(t):
            return mapping.get(t, t)
        return t

    out = []
    for graph, subj, pred, kind, obj, dt, lang in quads:
        out.append(
            (
                m(graph),
                m(subj),
                m(pred),
                kind,
                m(obj) if kind == "bnode" else obj,
                dt,
                lang,
            )
        )
    return out


def canonicalize_quads(quads: list[Quad], prefix: str = "c") -> list[Quad]:
    return relabel_quads(quads, canonical_bnode_labels(quads, prefix=prefix))


def quad_set_prf(
    emitted: list[Quad], golden: list[Quad]
) -> tuple[float, float, float]:
    """Precision/recall/F1 of canonicalized quad sets (FIXTURES.md §4)."""
    a = set(canonicalize_quads(emitted))
    b = set(canonicalize_quads(golden))
    if not a and not b:
        return 1.0, 1.0, 1.0
    inter = len(a & b)
    p = inter / len(a) if a else 0.0
    r = inter / len(b) if b else 0.0
    f = 2 * p * r / (p + r) if (p + r) else 0.0
    return p, r, f


def relabel_expanded(
    expanded: list, prefix: str = "b", canonicalize: bool = False
) -> list:
    """Reference ``ExpandedDocument::relabel`` /
    ``relabel_and_canonicalize`` (document/expanded.rs:99-157, CLI
    --relabel/--canonicalize): give every node object an ``@id`` —
    existing blank ids remapped consistently through one document-wide
    map, anonymous nodes get fresh ``_:b<N>`` labels in document
    order — and (optionally) put number literals into canonical
    ECMAScript form (integral floats become ints; note Python renders
    |x| in [1e16, 1e21) in exponent form where ryu-js uses fixed —
    a cosmetic divergence outside the i53 range real data uses).
    Returns a new structure; the input is not mutated."""
    counter = 0
    mapping: dict[str, str] = {}

    def fresh() -> str:
        nonlocal counter
        label = f"_:{prefix}{counter}"
        counter += 1
        return label

    def relabel_id(old):
        if old is None:
            return fresh()
        if isinstance(old, str) and old.startswith("_:"):
            if old not in mapping:
                mapping[old] = fresh()
            return mapping[old]
        return old

    def canon_number(v):
        if canonicalize and isinstance(v, float) and not isinstance(v, bool):
            if v == int(v) and abs(v) <= 2**53:
                return int(v)
        return v

    def walk_json(v):
        if isinstance(v, dict):
            return {k: walk_json(x) for k, x in v.items()}
        if isinstance(v, list):
            return [walk_json(x) for x in v]
        return canon_number(v)

    def walk(v):
        if isinstance(v, list):
            return [walk(x) for x in v]
        if not isinstance(v, dict):
            return v
        if "@value" in v:
            out = dict(v)
            if v.get("@type") == "@json":
                out["@value"] = walk_json(v["@value"])
            else:
                out["@value"] = canon_number(v["@value"])
            return out
        if "@list" in v:
            return {**v, "@list": [walk(x) for x in v["@list"]]}
        # node object: relabel @id (fresh when anonymous), remap blank
        # @type entries, recurse into properties/@reverse/@graph
        out = {}
        out["@id"] = relabel_id(v.get("@id"))
        for k, val in v.items():
            if k == "@id":
                continue
            if k == "@type":
                ts = val if isinstance(val, list) else [val]
                mapped = [
                    relabel_id(t) if isinstance(t, str) and t.startswith("_:")
                    else t
                    for t in ts
                ]
                out[k] = mapped if isinstance(val, list) else mapped[0]
            elif k == "@reverse":
                out[k] = {p: walk(x) for p, x in val.items()}
            elif k in ("@index",):
                out[k] = val
            else:
                out[k] = walk(val)
        return out

    return [walk(x) for x in expanded]


def canonicalize_expanded(expanded) -> list:
    """Number canonicalization only, ids untouched (reference
    ``ExpandedDocument::canonicalize``, document/expanded.rs:160-176):
    the CLI's --canonicalize without --relabel."""
    def canon(v):
        if isinstance(v, float) and not isinstance(v, bool):
            if v == int(v) and abs(v) <= 2**53:
                return int(v)
        return v

    def walk(v):
        if isinstance(v, list):
            return [walk(x) for x in v]
        if isinstance(v, dict):
            return {k: (walk(x) if k != "@value" else _walk_value(x))
                    for k, x in v.items()}
        return v

    def _walk_value(x):
        if isinstance(x, (dict, list)):  # @json literal body
            return walk_json(x)
        return canon(x)

    def walk_json(v):
        if isinstance(v, dict):
            return {k: walk_json(x) for k, x in v.items()}
        if isinstance(v, list):
            return [walk_json(x) for x in v]
        return canon(v)

    return [walk(x) for x in expanded]
