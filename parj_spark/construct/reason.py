"""RDFS forward-chaining entailment — materialized closure over the graph.

Beyond-reference extension in the KG-construction mission's core lane: the
reference engine queries raw triples with no entailment (its embedded LUBM
corpus is pre-expanded offline), but LUBM's published queries assume RDFS
reasoning (``Student`` subsumes ``GraduateStudent``, ``memberOf`` subsumes
``worksFor`` …). We materialize the closure at construct time, which is the
standard shape at lakehouse scale (WebPIE, Urbani et al., ISWC 2010): the
schema (TBox) is vanishingly small next to the instance data (ABox), so

  1. collect the TBox driver-side (one filtered scan of the schema
     predicates — thousands of rows on real ontologies, never data-sized),
  2. close ``subClassOf`` / ``subPropertyOf`` transitively in plain Python
     (rdfs5 / rdfs11 — cycle-safe BFS, no Spark iteration at all),
  3. apply the closed TBox to the ABox as BROADCAST hash joins in ONE pass
     — the 100 TB side is never iterated and never shuffled until the
     final ``dropDuplicates``, the single full-data exchange.

Rules (the ρDF core every production forward-chainer implements):

  rdfs5   (p ⊑p q), (q ⊑p r)      ->  (p ⊑p r)      [TBox, driver-side]
  rdfs11  (C ⊑c D), (D ⊑c E)      ->  (C ⊑c E)      [TBox, driver-side]
  rdfs7   (s p o),  (p ⊑p q)      ->  (s q o)
  rdfs2   (s p o),  domain(p)=C   ->  (s type C)
  rdfs3   (s p o),  range(p)=C    ->  (o type C)
  rdfs9   (s type C), (C ⊑c D)    ->  (s type D)

The single-pass order rdfs7 -> rdfs2/3 -> rdfs9 reaches the exact fixpoint
because the rule-dependency graph is acyclic once the TBox is pre-closed:
property derivations feed domain/range, domain/range emit only type
triples, and subclass consumes only type triples. (The full-RDFS corners
this drops — axiomatic triples, schema predicates that are themselves
sub-properties of schema predicates — are the same ones WebPIE, Jena
``RDFS simple`` and Oxigraph's ruleset drop.)

Reference seam: the closure runs BEFORE ``encode``/``materialize``
(pipeline stage boundary), so the permutation layout, statistics and the
BGP/SPARQL engines see entailed triples as plain data — no query-time
rewriting, mirroring how the reference's pre-expanded corpus behaves
(QueryTester.java:107-119 loads it as-is).
"""

from __future__ import annotations

from collections import defaultdict
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RDF_TYPE = "rdf:type"
RDFS_SUBCLASS = "rdfs:subClassOf"
RDFS_SUBPROP = "rdfs:subPropertyOf"
RDFS_DOMAIN = "rdfs:domain"
RDFS_RANGE = "rdfs:range"

# full-URI vocabulary for graphs imported from real RDF files (import_rdf
# keeps N-Triples URIs verbatim): pipeline.materialize_triples(...,
# entail=reason.W3C_VOCAB)
_RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
_RDFS_NS = "http://www.w3.org/2000/01/rdf-schema#"
W3C_VOCAB = {
    "type_pred": _RDF_NS + "type",
    "subclass_pred": _RDFS_NS + "subClassOf",
    "subprop_pred": _RDFS_NS + "subPropertyOf",
    "domain_pred": _RDFS_NS + "domain",
    "range_pred": _RDFS_NS + "range",
}


def transitive_pairs(pairs: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """Transitive closure of a small driver-side (sub, sup) relation.

    Cycle-safe BFS per source; self-pairs (a, a) are dropped — a schema
    cycle A ⊑ B ⊑ A still yields (A, B) and (B, A), and any self-derived
    instance triple is a duplicate of its own premise, removed by the final
    ``dropDuplicates`` downstream, so the output closure is unaffected.
    Deterministically sorted so broadcast-side row order is stable."""
    adj: dict[str, set[str]] = defaultdict(set)
    for a, b in pairs:
        adj[a].add(b)
    out: list[tuple[str, str]] = []
    for start in adj:
        seen: set[str] = set()
        stack = list(adj[start])
        while stack:
            node = stack.pop()
            if node in seen:
                continue
            seen.add(node)
            stack.extend(adj.get(node, ()))
        out.extend((start, sup) for sup in sorted(seen) if sup != start)
    return sorted(out)


@dataclass(frozen=True)
class TBox:
    """Driver-side closed schema: the (tiny) broadcast side of every RDFS
    instance rule. ``sub_c``/``sub_p`` are already transitively closed
    (rdfs5/11); ``dom``/``rng`` are the raw domain/range pairs. Collected
    once, applicable to any number of instance-triple partitions — the
    split that makes per-epoch delta reasoning exact (see
    :func:`apply_tbox`)."""

    type_pred: str = RDF_TYPE
    sub_c: tuple[tuple[str, str], ...] = field(default_factory=tuple)
    sub_p: tuple[tuple[str, str], ...] = field(default_factory=tuple)
    dom: tuple[tuple[str, str], ...] = field(default_factory=tuple)
    rng: tuple[tuple[str, str], ...] = field(default_factory=tuple)

    def __bool__(self) -> bool:
        return bool(self.sub_c or self.sub_p or self.dom or self.rng)


def collect_tbox(
    triples: DataFrame,
    *,
    type_pred: str = RDF_TYPE,
    subclass_pred: str = RDFS_SUBCLASS,
    subprop_pred: str = RDFS_SUBPROP,
    domain_pred: str = RDFS_DOMAIN,
    range_pred: str = RDFS_RANGE,
) -> TBox:
    """One filtered scan of the schema predicates, closed driver-side
    (rdfs5/rdfs11). The result is data-independent of the ABox, so it can
    be reused across epochs as long as no new schema triples arrive."""
    schema_preds = [subclass_pred, subprop_pred, domain_pred, range_pred]
    rows = (
        triples.filter(F.col("p").isin(schema_preds))
        .select("s", "p", "o")
        .collect()
    )
    return TBox(
        type_pred=type_pred,
        sub_c=tuple(
            transitive_pairs([(r.s, r.o) for r in rows if r.p == subclass_pred])
        ),
        sub_p=tuple(
            transitive_pairs([(r.s, r.o) for r in rows if r.p == subprop_pred])
        ),
        dom=tuple(sorted({(r.s, r.o) for r in rows if r.p == domain_pred})),
        rng=tuple(sorted({(r.s, r.o) for r in rows if r.p == range_pred})),
    )


def rdfs_closure(
    triples: DataFrame,
    *,
    type_pred: str = RDF_TYPE,
    subclass_pred: str = RDFS_SUBCLASS,
    subprop_pred: str = RDFS_SUBPROP,
    domain_pred: str = RDFS_DOMAIN,
    range_pred: str = RDFS_RANGE,
) -> DataFrame:
    """Entailed graph: ``triples`` ∪ every RDFS-derived triple, distinct.

    ``triples`` is any (s, p, o) string-URI DataFrame (the pipeline shape
    before ``encode``); schema triples stay in the output, exactly like a
    pre-expanded corpus. With an empty TBox the input is returned as-is —
    zero jobs, zero shuffles, so the flag costs nothing on schema-less
    graphs.

    Scale shape: 4 broadcast joins + 1 dropDuplicates. The ABox is scanned
    once per applicable rule (columnar, predicate-pruned on the permutation
    layout) and shuffled exactly once.
    """
    tbox = collect_tbox(
        triples,
        type_pred=type_pred,
        subclass_pred=subclass_pred,
        subprop_pred=subprop_pred,
        domain_pred=domain_pred,
        range_pred=range_pred,
    )
    if not tbox:
        return triples
    return apply_tbox(triples, tbox)


def apply_tbox(triples: DataFrame, tbox: TBox) -> DataFrame:
    """Apply a pre-closed :class:`TBox` to an instance-triple partition:
    ``triples`` ∪ every triple the RDFS instance rules (rdfs2/3/7/9) derive
    from it, distinct.

    Because every instance rule has exactly ONE ABox premise once the TBox
    is closed, application distributes over union:

        apply_tbox(A ∪ B, T) == apply_tbox(A, T) ∪ apply_tbox(B, T)

    which is the exactness guarantee the streaming path relies on — a
    delta epoch can be entailed alone, against the base graph's TBox,
    and the union of per-epoch closures equals the closure of the union
    (DRed / WebPIE's static-schema increment, Urbani et al., ISWC 2010).
    """
    if not tbox:
        return triples
    spark = triples.sparkSession
    type_pred = tbox.type_pred
    sub_c = list(tbox.sub_c)
    sub_p = list(tbox.sub_p)
    dom = list(tbox.dom)
    rng = list(tbox.rng)

    base = triples.select("s", "p", "o")

    # rdfs7: sub-property derivations. The delta has exactly ONE consumer
    # (the output union) because rdfs2/3's dependence on it is pre-composed
    # driver-side below — no persist, no recompute.
    d7 = None
    if sub_p:
        spdf = F.broadcast(
            spark.createDataFrame(sub_p, ["_sub", "_sup"])
        )
        d7 = base.join(spdf, base["p"] == spdf["_sub"]).select(
            "s", F.col("_sup").alias("p"), "o"
        )

    # rdfs2/3 must see rdfs7's output (p ⊑ q, domain(q)=C, (s p o) ⇒
    # s type C). Instead of joining against base ∪ delta — which would make
    # the delta a multi-consumer intermediate and the join un-prunable —
    # compose domain/range through the CLOSED property hierarchy on the
    # driver: domain(q)=C and p ⊑ q ⇒ effective-domain(p)=C. Every rule
    # then reads only `base`, predicate-pruned by an isin() over the
    # (tiny) effective key set — on the permutation layout these are
    # partition-pruned scans, the shape that survives 100 TB.
    dom_eff = set(dom)
    rng_eff = set(rng)
    dom_by_q: dict[str, set[str]] = defaultdict(set)
    rng_by_q: dict[str, set[str]] = defaultdict(set)
    for q, c in dom:
        dom_by_q[q].add(c)
    for q, c in rng:
        rng_by_q[q].add(c)
    for p, q in sub_p:
        dom_eff.update((p, c) for c in dom_by_q.get(q, ()))
        rng_eff.update((p, c) for c in rng_by_q.get(q, ()))

    new_types: list[DataFrame] = []
    if dom_eff:
        ddf = F.broadcast(
            spark.createDataFrame(sorted(dom_eff), ["_p", "_c"])
        )
        pruned = base.filter(F.col("p").isin(sorted({p for p, _ in dom_eff})))
        new_types.append(
            pruned.join(ddf, pruned["p"] == ddf["_p"]).select(
                "s", F.col("_c").alias("o")
            )
        )
    if rng_eff:
        rdf_ = F.broadcast(
            spark.createDataFrame(sorted(rng_eff), ["_p", "_c"])
        )
        pruned = base.filter(F.col("p").isin(sorted({p for p, _ in rng_eff})))
        new_types.append(
            pruned.join(rdf_, pruned["p"] == rdf_["_p"]).select(
                F.col("o").alias("s"), F.col("_c").alias("o")
            )
        )

    # rdfs9: subclass propagation over EVERY type assertion — asserted
    # (predicate-pruned base scan), domain/range-derived, and — in the
    # pathological p ⊑ rdf:type case only — rdfs7-derived
    derived_types = new_types
    if sub_c:
        types = base.filter(F.col("p") == type_pred).select("s", "o")
        if d7 is not None and any(sup == type_pred for _, sup in sub_p):
            types = types.union(
                d7.filter(F.col("p") == type_pred).select("s", "o")
            )
        for nt in new_types:
            types = types.union(nt)
        scdf = F.broadcast(spark.createDataFrame(sub_c, ["_c", "_sup"]))
        derived_types = new_types + [
            types.join(scdf, types["o"] == scdf["_c"]).select(
                "s", F.col("_sup").alias("o")
            )
        ]

    out = base if d7 is None else base.union(d7)
    for td in derived_types:
        out = out.union(
            td.select("s", F.lit(type_pred).alias("p"), "o")
        )
    return out.dropDuplicates(["s", "p", "o"])


def tbox_from_store(
    store,
    *,
    type_pred: str = RDF_TYPE,
    subclass_pred: str = RDFS_SUBCLASS,
    subprop_pred: str = RDFS_SUBPROP,
    domain_pred: str = RDFS_DOMAIN,
    range_pred: str = RDFS_RANGE,
) -> TBox:
    """Decode the TBox out of a materialized (encoded) GraphStore.

    The schema predicates are resolved to ids through the predicate catalog
    (4 rows), the POS permutation is predicate-pruned to just those ids —
    partition-pruned on the p-hive layout, so this never scans instance
    data — and the s/o ids decode through the dictionary. Driver-side
    collect is safe for the same reason :func:`collect_tbox` is: schemas
    are thousands of rows on real ontologies, never data-sized."""
    spark = store.spark
    uri_to_pred = {
        subclass_pred: "subclass",
        subprop_pred: "subprop",
        domain_pred: "domain",
        range_pred: "range",
    }
    pid_rows = (
        store.properties()
        .filter(F.col("uri").isin(list(uri_to_pred)))
        .collect()
    )
    if not pid_rows:
        return TBox(type_pred=type_pred)
    pid_kind = {r.id: uri_to_pred[r.uri] for r in pid_rows}
    d = store.dict()
    pruned = store.pos().filter(F.col("p").isin(list(pid_kind))).select(
        "s", "p", "o"
    )
    rows = (
        pruned.join(d.select(F.col("id").alias("s"), F.col("uri").alias("s_uri")), "s")
        .join(d.select(F.col("id").alias("o"), F.col("uri").alias("o_uri")), "o")
        .select("s_uri", "p", "o_uri")
        .collect()
    )
    by_kind: dict[str, list[tuple[str, str]]] = defaultdict(list)
    for r in rows:
        by_kind[pid_kind[r.p]].append((r.s_uri, r.o_uri))
    return TBox(
        type_pred=type_pred,
        sub_c=tuple(transitive_pairs(by_kind.get("subclass", []))),
        sub_p=tuple(transitive_pairs(by_kind.get("subprop", []))),
        dom=tuple(sorted(set(by_kind.get("domain", [])))),
        rng=tuple(sorted(set(by_kind.get("range", [])))),
    )


# doubling rounds before a closure gives up: round k closes every path of
# up to 2^k hops, so 30 rounds cover any path of up to 2^30 hops
MAX_DOUBLING_ROUNDS = 30


def transitive_closure(edges: DataFrame) -> DataFrame:
    """Distinct transitive closure of an (s, o) edge relation.

    Iterative path doubling: each round joins the closed-so-far relation
    with itself (R ∪ R∘R), so a path of d hops closes in O(log d) rounds.
    A cycle gives its self-pairs (a, a); a null endpoint matches no join,
    so an edge into null extends nothing and an edge out of null extends
    only through its object. Each round runs ONE action: the lazy
    ``localCheckpoint`` cuts lineage and the round's convergence ``count``
    fills it, with no checkpoint action of its own (same discipline as
    canonicalize.connected_components). The rounds run at call time, so
    the returned frame is already materialized.
    """
    edges = edges.select("s", "o").dropDuplicates().localCheckpoint(eager=False)
    n = edges.count()
    for _ in range(MAX_DOUBLING_ROUNDS):
        hop = (
            edges.alias("l")
            .join(edges.alias("r"), F.col("l.o") == F.col("r.s"))
            .select(F.col("l.s").alias("s"), F.col("r.o").alias("o"))
        )
        nxt = edges.union(hop).dropDuplicates().localCheckpoint(eager=False)
        n_nxt = nxt.count()
        if n_nxt == n:
            return nxt
        edges, n = nxt, n_nxt
    raise RuntimeError(
        f"transitive_closure did not converge in MAX_DOUBLING_ROUNDS="
        f"{MAX_DOUBLING_ROUNDS} doubling rounds "
        f"(a path longer than 2^{MAX_DOUBLING_ROUNDS} hops)"
    )


def transitive_materialize(triples: DataFrame, pred: str) -> DataFrame:
    """Instance-level transitive closure of one predicate, materialized.

    The owl:TransitiveProperty analog (LUBM's ``subOrganizationOf``): every
    (a pred b), (b pred c) chain entails (a pred c). Unlike the TBox rules
    above this closes over DATA-sized relations, so it cannot be collected
    driver-side: the predicate's (s, o) slice goes through
    :func:`transitive_closure`. Output is ``triples`` with that predicate's
    edges replaced by their closure.

    Scale shape: the edge relation for one predicate is a small slice of
    the graph (predicate-pruned scan on the permutation layout); each round
    shuffles the closing slice only — the full graph is never re-shuffled.
    """
    closed = transitive_closure(triples.filter(F.col("p") == pred))
    return (
        triples.filter(F.col("p") != pred)
        .select("s", "p", "o")
        .union(closed.select("s", F.lit(pred).alias("p"), "o"))
    )
