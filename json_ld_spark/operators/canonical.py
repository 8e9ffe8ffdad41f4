"""Distributed blank-node canonicalization over the corpus triple table.

DataFrame-native color refinement — the distributed twin of
json_ld_spark.canonicalize (per-doc, in-UDF). Each round:

  quads ⨝ labels (subj) ⨝ labels (obj) ⨝ labels (graph) ⨝ labels (pred)
  → per-bnode signature rows → groupBy(bnode) sha2 of sorted signatures

All shuffles key on the bnode label; rounds run to a fixpoint by
default (distinct-hash count stabilizes — see canonicalize_bnodes_df).
The label table holds one row per distinct bnode — small relative to
the quad table but PROPORTIONAL to corpus bnode count, so the joins
carry no forced broadcast hint: AQE broadcasts them when they fit and
falls back to shuffle joins when they don't (a hard `broadcast()` here
would force an attempt past driver/broadcast limits at 100 TB).
Cross-checked against the sequential version in tests.

Blank predicates (generalized RDF) participate fully: they join the
bnode set, get signature rows, and are relabeled — matching
json_ld_spark.canonicalize's treatment.

Contract note: labels are DETERMINISTIC and unique
(collision-disambiguated). By default (`rounds=None`) refinement runs
to a FIXPOINT — it stops at the first round whose distinct-hash count
stops growing (the partition provably stabilizes within |bnodes|
rounds, and the count is monotone under refinement), matching the
local canonicalizer's stability contract. A fixed `rounds` is still
accepted for bounded-diameter corpora where the caller wants a static
job DAG. Structurally IDENTICAL bnodes (automorphic orbits, or
byte-identical duplicate documents — the norm in a pre-dedup crawl)
share a refinement hash at every round; they are disambiguated with a
deterministic per-bnode tiebreaker hash(h, input_label) computed
row-local (NO global per-hash sort — a row_number window here would
serialize every duplicate of a hot document through one task).
Isomorphism-oracle comparisons (golden scoring) use
json_ld_spark.canonicalize, which additionally breaks automorphic
orbits by URDNA-style marking.

Replaces the reference's sequential relabel generator
(crates/core/src/document/expanded.rs:99-115) with the hash-based
canonical identifiers sanctioned by BASELINE.json's north_star.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _is_bnode(c):
    return c.isNotNull() & c.startswith("_:")


def canonicalize_bnodes_df(
    triples: DataFrame,
    rounds: int | None = None,
    prefix: str = "c",
    max_rounds: int = 32,
) -> DataFrame:
    """Returns the triple DataFrame with every blank label replaced by a
    deterministic content-hash label (collision-disambiguated).

    rounds=None (default) iterates to a fixpoint: refinement stops at
    the first round whose countDistinct(h) equals the previous round's
    (one extra confirming round runs; its labels are the output).
    max_rounds caps the fixpoint loop (refinement stabilizes within the
    largest bnode-component diameter, so 32 covers any real corpus —
    an rdf:List longer than 2^32 elements would not fit storage)."""
    t = triples
    bnodes = (
        t.select(F.col("subj").alias("b"))
        .where(_is_bnode(F.col("subj")))
        .unionByName(
            t.select(F.col("obj").alias("b")).where(
                (F.col("obj_kind") == "bnode") & _is_bnode(F.col("obj"))
            )
        )
        .unionByName(
            t.select(F.col("graph").alias("b")).where(_is_bnode(F.col("graph")))
        )
        .unionByName(
            t.select(F.col("pred").alias("b")).where(_is_bnode(F.col("pred")))
        )
        .distinct()
    )
    labels = bnodes.select("b", F.lit("").alias("h"))

    # signatures are computed over the quad SET (RDF dataset semantics):
    # duplicate emission rows (@list objects bypass the node-map
    # uniqueness check) must not perturb refinement — mirrors the
    # dict.fromkeys dedup in json_ld_spark.canonicalize
    base = t.select(
        "graph", "subj", "pred", "obj_kind", "obj",
        F.coalesce("datatype", F.lit("~")).alias("dt"),
        F.coalesce("lang", F.lit("~")).alias("lg"),
    ).dropDuplicates()

    # reliable checkpoint when the session has a checkpoint dir (fault-
    # tolerant at cluster scale); localCheckpoint otherwise (local mode —
    # executor-storage-resilient only, recompute-on-loss accepted)
    sc = t.sparkSession.sparkContext
    use_reliable = sc.getCheckpointDir() is not None

    def _truncate(df: DataFrame) -> DataFrame:
        # LAZY in both modes: the per-round fixpoint probe (or the next
        # round's first job) is the materializing action, so each round
        # costs ONE job instead of checkpoint-then-probe's two
        return df.checkpoint(eager=False) if use_reliable else df.localCheckpoint(
            eager=False
        )

    prev_distinct = -1
    for _ in range(rounds if rounds is not None else max_rounds):
        lab_s = labels.select(F.col("b").alias("subj"), F.col("h").alias("h_subj"))
        lab_o = labels.select(F.col("b").alias("obj"), F.col("h").alias("h_obj"))
        lab_g = labels.select(F.col("b").alias("graph"), F.col("h").alias("h_graph"))
        lab_p = labels.select(F.col("b").alias("pred"), F.col("h").alias("h_pred"))
        # no broadcast hint: label table ∝ bnode count; AQE picks the
        # join strategy by actual size
        j = (
            base.join(lab_s, "subj", "left")
            .join(lab_o, "obj", "left")
            .join(lab_g, "graph", "left")
            .join(lab_p, "pred", "left")
        )
        # per-position signatures: self marker vs neighbor hash
        g_term = F.when(
            _is_bnode(F.col("graph")), F.coalesce("h_graph", F.lit("_:other"))
        ).otherwise(F.coalesce(F.col("graph"), F.lit("~")))
        s_term = F.when(
            _is_bnode(F.col("subj")), F.coalesce("h_subj", F.lit("_:other"))
        ).otherwise(F.col("subj"))
        o_term = F.when(
            (F.col("obj_kind") == "bnode") & _is_bnode(F.col("obj")),
            F.coalesce("h_obj", F.lit("_:other")),
        ).otherwise(F.col("obj"))
        p_term = F.when(
            _is_bnode(F.col("pred")), F.coalesce("h_pred", F.lit("_:other"))
        ).otherwise(F.col("pred"))

        def sig(self_col: str):
            # every occurrence of the self label (any position) → "_:self",
            # matching json_ld_spark.canonicalize._quad_signature
            self_val = F.col(self_col)
            g_rep = F.when(
                F.col("graph").isNotNull() & (F.col("graph") == self_val),
                F.lit("_:self"),
            ).otherwise(g_term)
            s_rep = F.when(F.col("subj") == self_val, F.lit("_:self")).otherwise(s_term)
            o_rep = F.when(
                (F.col("obj_kind") == "bnode") & (F.col("obj") == self_val),
                F.lit("_:self"),
            ).otherwise(o_term)
            p_rep = F.when(F.col("pred") == self_val, F.lit("_:self")).otherwise(
                p_term
            )
            return F.concat_ws(
                "|", g_rep, s_rep, p_rep, F.col("obj_kind"),
                o_rep, F.col("dt"), F.col("lg"),
            )

        sig_rows = None
        for col, guard in (
            ("subj", _is_bnode(F.col("subj"))),
            ("obj", (F.col("obj_kind") == "bnode") & _is_bnode(F.col("obj"))),
            ("graph", _is_bnode(F.col("graph"))),
            ("pred", _is_bnode(F.col("pred"))),
        ):
            part = j.where(guard).select(F.col(col).alias("b"), sig(col).alias("sig"))
            sig_rows = part if sig_rows is None else sig_rows.unionByName(part)

        new_labels = (
            sig_rows.groupBy("b")
            .agg(
                F.sha2(
                    F.concat_ws("", F.array_sort(F.collect_list("sig"))), 256
                ).alias("agg_sig")
            )
            .join(labels, "b")
            .select(
                "b",
                F.sha2(F.concat_ws("", "agg_sig", "h"), 256).alias("h"),
                "agg_sig",
            )
        )
        # materialize each round: labels feed four joins in the next
        # round, so an unbroken lineage grows ~4^rounds and chokes the
        # optimizer; checkpointing truncates it (same trick iterative
        # GraphX/connected-components jobs use)
        new_labels = _truncate(new_labels)
        labels = new_labels.select("b", "h")
        final_sigs = new_labels
        if rounds is None:
            # fixpoint check: distinct-h count is monotone non-decreasing
            # under refinement; equality with the previous round means the
            # partition is stable. One aggregation over the (checkpointed)
            # label table per round — bnode-count rows, not quad rows.
            d = labels.agg(F.countDistinct("h").alias("d")).first()["d"]
            if d == prev_distinct:
                break
            prev_distinct = d

    # Disambiguate identical hashes (automorphic orbits / byte-identical
    # duplicate documents) with a row-local deterministic tiebreaker:
    # sha2(h || input_label). The input label is already globally unique
    # (doc-hash BlankGen prefix, operators/jsonld.py triples_stage), so the
    # 128-bit truncation collides w.p. ~n²/2^129. A row_number() window
    # over partitionBy(h) here — the round-2 design — would funnel every
    # bnode of a hot duplicated document through ONE task; the groupBy
    # count below is map-side combinable and the join back on h is
    # AQE-skew-splittable (the count side is one row per h).
    counts = final_sigs.groupBy("h").agg(F.count(F.lit(1)).alias("n"))
    final = final_sigs.join(counts, "h").select(
        "b",
        F.when(
            F.col("n") > 1,
            F.concat(
                F.lit("_:" + prefix),
                F.substring(F.sha2(F.concat(F.col("h"), F.col("b")), 256), 1, 32),
            ),
        )
        .otherwise(F.concat(F.lit("_:" + prefix), F.substring("h", 1, 16)))
        .alias("canon"),
    )

    m_s = final.select(F.col("b").alias("subj"), F.col("canon").alias("c_subj"))
    m_o = final.select(F.col("b").alias("obj"), F.col("canon").alias("c_obj"))
    m_g = final.select(F.col("b").alias("graph"), F.col("canon").alias("c_graph"))
    m_p = final.select(F.col("b").alias("pred"), F.col("canon").alias("c_pred"))
    out = (
        t.join(m_s, "subj", "left")
        .join(m_o, "obj", "left")
        .join(m_g, "graph", "left")
        .join(m_p, "pred", "left")
        .select(
            F.coalesce("c_graph", "graph").alias("graph"),
            F.coalesce("c_subj", "subj").alias("subj"),
            F.coalesce("c_pred", "pred").alias("pred"),
            "obj_kind",
            F.when(
                (F.col("obj_kind") == "bnode") & F.col("c_obj").isNotNull(),
                F.col("c_obj"),
            )
            .otherwise(F.col("obj"))
            .alias("obj"),
            "datatype",
            "lang",
            *[c for c in t.columns if c not in (
                "graph", "subj", "pred", "obj_kind", "obj", "datatype", "lang"
            )],
        )
    )
    return out


GENID_BASE = "https://example.org/.well-known/genid/"


def skolemize(triples: DataFrame, base: str = GENID_BASE) -> DataFrame:
    """RDF 1.1 §3.5 skolemization: replace every blank node with a
    fresh IRI under a ``/.well-known/genid/`` base — the standard way
    to make bnode-bearing data mergeable/joinable across systems that
    would otherwise re-scope the labels. A pure projection (no
    shuffle): ``_:label`` → ``<base>label`` in subject and object
    position, object kind flipped to ``iri``. Run AFTER
    canonicalization (canonicalize_bnodes_df / relabel_expanded) so
    the labels are content-derived and two sources holding the same
    graph skolemize to the SAME IRIs; raw parser-scoped labels would
    skolemize to accidental ones."""
    is_b = F.col("subj").startswith("_:")
    subj2 = F.when(
        is_b, F.concat(F.lit(base), F.col("subj").substr(F.lit(3), F.length("subj")))
    ).otherwise(F.col("subj"))
    ob = F.col("obj_kind") == "bnode"
    obj2 = F.when(
        ob, F.concat(F.lit(base), F.col("obj").substr(F.lit(3), F.length("obj")))
    ).otherwise(F.col("obj"))
    kind2 = F.when(ob, F.lit("iri")).otherwise(F.col("obj_kind"))
    others = [c for c in triples.columns
              if c not in ("graph", "subj", "pred", "obj_kind", "obj",
                           "datatype", "lang")]
    return triples.select(
        "graph", subj2.alias("subj"), "pred", kind2.alias("obj_kind"),
        obj2.alias("obj"), "datatype", "lang", *others,
    )


def unskolemize(triples: DataFrame, base: str = GENID_BASE) -> DataFrame:
    """Inverse of `skolemize`: IRIs under ``base`` become blank nodes
    again (subject and object position; object kind restored to
    ``bnode``). skolemize ∘ unskolemize is the identity on any quad
    table whose ordinary IRIs do not live under ``base``."""
    n = len(base)
    sk_s = F.col("subj").startswith(base)
    sk_o = (F.col("obj_kind") == "iri") & F.col("obj").startswith(base)
    subj2 = F.when(
        sk_s, F.concat(F.lit("_:"), F.col("subj").substr(F.lit(n + 1), F.length("subj")))
    ).otherwise(F.col("subj"))
    obj2 = F.when(
        sk_o, F.concat(F.lit("_:"), F.col("obj").substr(F.lit(n + 1), F.length("obj")))
    ).otherwise(F.col("obj"))
    kind2 = F.when(sk_o, F.lit("bnode")).otherwise(F.col("obj_kind"))
    others = [c for c in triples.columns
              if c not in ("graph", "subj", "pred", "obj_kind", "obj",
                           "datatype", "lang")]
    return triples.select(
        "graph", subj2.alias("subj"), "pred", kind2.alias("obj_kind"),
        obj2.alias("obj"), "datatype", "lang", *others,
    )


RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
PROV_DERIVED = "http://www.w3.org/ns/prov#wasDerivedFrom"


def reify_statements(
    triples: DataFrame,
    base: str = "https://example.org/stmt/",
    source_col: str | None = None,
) -> DataFrame:
    """RDF reification (RDF 1.1 §5.3 / the expansion RDF-star's
    quoted triples lower to): every input (subj, pred, obj) becomes a
    STATEMENT NODE carrying four triples —

        <stmt> rdf:type      rdf:Statement
        <stmt> rdf:subject   <subj>
        <stmt> rdf:predicate <pred>
        <stmt> rdf:object    obj (kind/datatype/lang preserved)

    plus, when ``source_col`` names a provenance column, a fifth
    ``<stmt> prov:wasDerivedFrom <source>`` triple — the per-statement
    provenance a trillion-turn KG needs to trace any asserted fact
    back to the conversation that produced it.

    The statement IRI is CONTENT-DERIVED: ``base + md5(kind|subj|
    pred|obj|datatype|lang)`` — deterministic across engines,
    partitionings, and re-runs (the same assertion reifies to the
    same node, so re-ingested batches merge instead of duplicating;
    duplicate input rows collapse via the final dropDuplicates).

    Plan shape: pure projection + a 4/5-element posexplode — zero
    shuffle except the dedup, which is keyed on the uniform md5
    statement id. Distributes embarrassingly at any scale.
    """
    key = F.md5(
        F.concat_ws(
            "\x1f",
            F.col("obj_kind"),
            F.col("subj"),
            F.col("pred"),
            F.col("obj"),
            F.coalesce(F.col("datatype"), F.lit("")),
            F.coalesce(F.col("lang"), F.lit("")),
        )
    )
    stmt = F.concat(F.lit(base), key)
    mk = lambda p, kind, obj, dt, lg: F.struct(  # noqa: E731
        F.lit(p).alias("pred"), kind.alias("obj_kind"), obj.alias("obj"),
        dt.alias("datatype"), lg.alias("lang"),
    )
    snull = F.lit(None).cast("string")
    parts = [
        mk(RDF_NS + "type", F.lit("iri"), F.lit(RDF_NS + "Statement"), snull, snull),
        mk(RDF_NS + "subject", F.lit("iri"), F.col("subj"), snull, snull),
        mk(RDF_NS + "predicate", F.lit("iri"), F.col("pred"), snull, snull),
        mk(
            RDF_NS + "object", F.col("obj_kind"), F.col("obj"),
            F.col("datatype"), F.col("lang"),
        ),
    ]
    if source_col is not None:
        parts.append(
            mk(PROV_DERIVED, F.lit("iri"), F.col(source_col), snull, snull)
        )
    return (
        triples.select(stmt.alias("subj"), F.explode(F.array(*parts)).alias("t"))
        .select(
            "subj", F.col("t.pred").alias("pred"),
            F.col("t.obj_kind").alias("obj_kind"), F.col("t.obj").alias("obj"),
            F.col("t.datatype").alias("datatype"), F.col("t.lang").alias("lang"),
        )
        .dropDuplicates()
    )
