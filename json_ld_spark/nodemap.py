"""Node Map Generation + Flattening (JSON-LD 1.1 API §7).

Reference parity:
  - generate_node_map / extend_node_map ↔
    crates/core/src/flattening/node_map.rs:296-475
  - declare_node (conflicting @index)   ↔ node_map.rs:179-206
  - merge_node semantics                ↔ node_map.rs:211-262
  - flatten (ordered/unordered)         ↔ crates/core/src/flattening/mod.rs:59-179
  - BlankGen ↔ the sequential Generator (flattening/environment.rs), kept
    sequential *within* a document (document-local determinism); labels
    are made globally unique by a per-document prefix on the generator
    (operators/jsonld.py triples_stage: "_:g<sha256(doc_id)[:12]>b0").

The node map is the central KG structure: graph → node-id → merged node.
In the Spark pipeline the per-document part runs inside the expansion UDF
and the cross-document merge is a DataFrame groupBy (operators/jsonld.py).
"""

from __future__ import annotations

from typing import Any, Optional

from . import errors as E
from .canon import canonical_json
from .iri import is_blank_node_id

DEFAULT_GRAPH = "@default"


class BlankGen:
    """Sequential document-local blank-node id generator with memo map,
    like the reference Generator + relabel memo (document/expanded.rs:99)."""

    def __init__(self, prefix: str = "b"):
        self.prefix = prefix
        self.counter = 0
        self.memo: dict[str, str] = {}

    def fresh(self) -> str:
        label = f"_:{self.prefix}{self.counter}"
        self.counter += 1
        return label

    def rename(self, old: Optional[str]) -> str:
        if old is None:
            return self.fresh()
        got = self.memo.get(old)
        if got is None:
            got = self.fresh()
            self.memo[old] = got
        return got


def generate_node_map(
    expanded: list,
    gen: BlankGen | None = None,
    mutate_ok: bool = False,
) -> dict[str, dict[str, dict]]:
    """Returns {graph_id: {node_id: node}} with '@default' default graph.

    mutate_ok=True skips the defensive deep copy (the walk renames blank
    ids and moves subtrees in place) — safe when the caller owns
    `expanded` and discards it, as the pipeline stages do.
    """
    node_map: dict[str, dict[str, dict]] = {DEFAULT_GRAPH: {}}
    gen = gen or BlankGen()
    for item in (expanded if mutate_ok else _deep_copy(expanded)):
        _extend_node_map(item, node_map, gen, DEFAULT_GRAPH, None, None, None)
    return node_map


def _dedup_append(arr: list, value: Any) -> None:
    if not arr:  # fast path: nothing to compare (the common case)
        arr.append(value)
        return
    key = canonical_json(value)
    for existing in arr:
        if canonical_json(existing) == key:
            return
    arr.append(value)


def _extend_node_map(
    element: Any,
    node_map: dict,
    gen: BlankGen,
    active_graph: str,
    active_subject: Any,
    active_property: Optional[str],
    list_: Optional[dict],
) -> None:
    if isinstance(element, list):
        for item in element:
            _extend_node_map(item, node_map, gen, active_graph, active_subject, active_property, list_)
        return
    assert isinstance(element, dict)
    graph = node_map.setdefault(active_graph, {})

    if "@type" in element:
        types = element["@type"]
        if isinstance(types, list):
            element["@type"] = [
                gen.rename(t) if is_blank_node_id(t) else t for t in types
            ]
        elif is_blank_node_id(types):
            element["@type"] = gen.rename(types)

    # value object
    if "@value" in element:
        if list_ is None:
            node = graph[active_subject]
            arr = node.setdefault(active_property, [])
            _dedup_append(arr, element)
        else:
            list_["@list"].append(element)
        return

    # list object
    if "@list" in element:
        result: dict[str, Any] = {"@list": []}
        _extend_node_map(element["@list"], node_map, gen, active_graph, active_subject, active_property, result)
        if list_ is None:
            node = graph[active_subject]
            node.setdefault(active_property, []).append(result)
        else:
            list_["@list"].append(result)
        return

    # node object
    element_id = element.pop("@id", None)
    if element_id is not None and is_blank_node_id(element_id):
        element_id = gen.rename(element_id)
    if element_id is None:
        element_id = gen.fresh()

    if element_id not in graph:
        graph[element_id] = {"@id": element_id}
    node = graph[element_id]

    if isinstance(active_subject, dict):
        # reverse-property reference: subject node gets property → active_subject
        arr = node.setdefault(active_property, [])
        _dedup_append(arr, active_subject)
    elif active_property is not None:
        reference = {"@id": element_id}
        if list_ is None:
            subject_node = graph[active_subject]
            arr = subject_node.setdefault(active_property, [])
            _dedup_append(arr, reference)
        else:
            list_["@list"].append(reference)

    if "@type" in element:
        existing = node.setdefault("@type", [])
        for t in element.pop("@type"):
            if t not in existing:
                existing.append(t)

    if "@index" in element:
        idx = element.pop("@index")
        if "@index" in node and node["@index"] != idx:
            # reference node_map.rs:179-206 ConflictingIndexes
            raise E.ConflictingIndexes(f"{element_id}: {node['@index']} vs {idx}")
        node["@index"] = idx

    if "@reverse" in element:
        referenced = {"@id": element_id}
        for prop, values in element.pop("@reverse").items():
            for value in values:
                _extend_node_map(value, node_map, gen, active_graph, referenced, prop, None)

    if "@graph" in element:
        content = element.pop("@graph")
        node_map.setdefault(element_id, {})
        _extend_node_map(content, node_map, gen, element_id, None, None, None)

    if "@included" in element:
        _extend_node_map(element.pop("@included"), node_map, gen, active_graph, None, None, None)

    for prop in sorted(k for k in element.keys() if k != "@id"):
        value = element[prop]
        if is_blank_node_id(prop):
            prop = gen.rename(prop)
        node.setdefault(prop, [])
        _extend_node_map(value, node_map, gen, active_graph, element_id, prop, None)


def merge_node_maps(node_map: dict[str, dict[str, dict]]) -> dict[str, dict]:
    """Merge all graphs into one (reference NodeMap::merge,
    node_map.rs:81-94): node definitions of the same id union their
    properties."""
    merged: dict[str, dict] = {}
    for _, graph in node_map.items():
        for node_id, node in graph.items():
            target = merged.setdefault(node_id, {"@id": node_id})
            for k, v in node.items():
                if k == "@id":
                    continue
                if k == "@type":
                    tgt = target.setdefault("@type", [])
                    for t in v:
                        if t not in tgt:
                            tgt.append(t)
                elif k == "@index":
                    target.setdefault("@index", v)
                else:
                    arr = target.setdefault(k, [])
                    for item in v:
                        _dedup_append(arr, item)
    return merged


def _is_empty_node(node: dict) -> bool:
    # drop nodes that carry only @id (flattening/mod.rs:88-105)
    return set(node.keys()) <= {"@id"}


def flatten(
    node_map: dict[str, dict[str, dict]],
    ordered: bool = False,
) -> list[dict]:
    """Flattening (§7.1 steps 2-4): named graphs become @graph entries of
    their graph node in the default graph."""
    default_graph = dict(node_map.get(DEFAULT_GRAPH, {}))
    graph_names = [g for g in node_map.keys() if g != DEFAULT_GRAPH]
    if ordered:
        graph_names.sort()
    for graph_name in graph_names:
        entry = default_graph.setdefault(graph_name, {"@id": graph_name})
        nodes = node_map[graph_name]
        node_ids = sorted(nodes.keys()) if ordered else list(nodes.keys())
        entry["@graph"] = [
            nodes[nid] for nid in node_ids if not _is_empty_node(nodes[nid])
        ]
    node_ids = sorted(default_graph.keys()) if ordered else list(default_graph.keys())
    return [
        default_graph[nid] for nid in node_ids if not _is_empty_node(default_graph[nid])
    ]


def flatten_expanded(
    expanded: list,
    ordered: bool = False,
    gen: BlankGen | None = None,
) -> list[dict]:
    """expand → node map → flat node list (Flatten::flatten_with,
    flattening/mod.rs:59-86)."""
    nm = generate_node_map(expanded, gen)
    return flatten(nm, ordered=ordered)


def _deep_copy(v: Any) -> Any:
    if isinstance(v, dict):
        return {k: _deep_copy(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_deep_copy(x) for x in v]
    return v
