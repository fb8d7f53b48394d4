"""Seeded input generators: everything the engine receives is made here.

The same ``seed`` always gives the same inputs. The KG corpus is the one
the engine's fixture generator (``gen_corpus``) describes: its per-department
row function runs here, in this process, so no Spark job or Python worker
is spent on input generation. The facts depend only on the department
count, the surface text also on the seed. The request streams and the
planted duplicates are generated here too, so an engine change cannot
shape its own inputs.
"""

from __future__ import annotations

import bisect
import hashlib
import itertools
import random
from dataclasses import dataclass

import numpy as np

# Graph size: small enough that construct + analyze fit a short run on four
# cores, large enough that every template returns rows.
GRAPH_DEPTS = 120
DEPTS_PER_UNIV = 3  # parj_spark.fixtures.ontology.DEPTS_PER_UNIV
PROFS, COURSES = 2, 3  # entities per department in the fixture

ZIPF_S = 1.1
NEW_STUDENTS = 24  # per update request, five triples each


def _rng(seed: int, stream: str) -> random.Random:
    """One independent generator per named stream of one seed."""
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return random.Random(int.from_bytes(digest[:8], "big"))


class Zipf:
    """Zipf-skewed draws over ``n`` items whose popularity order is a seeded
    permutation, so the hot items differ from seed to seed."""

    def __init__(self, n: int, rng: random.Random, s: float = ZIPF_S):
        self.items = list(range(n))
        rng.shuffle(self.items)
        self.cum = list(itertools.accumulate(1.0 / (r + 1) ** s for r in range(n)))
        self.rng = rng

    def draw(self) -> int:
        x = self.rng.random() * self.cum[-1]
        return self.items[bisect.bisect_left(self.cum, x)]


def dept(g: int) -> str:
    u, d = divmod(g, DEPTS_PER_UNIV)
    return f"ub:Department_{u}_{d}"


def univ(g: int) -> str:
    return f"ub:University_{g // DEPTS_PER_UNIV}"


def ent(cls: str, g: int, i: int) -> str:
    u, d = divmod(g, DEPTS_PER_UNIV)
    return f"ub:{cls}_{u}_{d}_{i}"


def corpus(n_depts: int, seed: int) -> list[tuple]:
    """(doc_id, spans) rows of ``gen_corpus(n_depts, seed)``'s documents."""
    from parj_spark.fixtures.generator import _dept_docs

    return [
        (d["doc_id"], [(x["kind"], x["text"], x["media_ref"], x["offset"]) for x in d["spans"]])
        for g in range(n_depts)
        for d in _dept_docs(g, n_depts, seed)
    ]


def gold_triples(n_depts: int) -> set[tuple[str, str, str]]:
    """(s_uri, p_uri, o_uri) of ``gen_corpus``'s ground-truth triples."""
    from parj_spark.fixtures import ontology as O
    from parj_spark.fixtures.generator import _dept_facts

    out = set()
    for g in range(n_depts):
        for s, p, o, is_lit, o_is_class in _dept_facts(g, n_depts):
            o_uri = o if is_lit else (O.class_uri(o) if o_is_class else O.entity_uri(o))
            out.add((O.entity_uri(s), p, o_uri))
    return out


# --- read requests ----------------------------------------------------------

PROLOGUE = "PREFIX rdf:<rdf:> PREFIX ub:<ub:> "


@dataclass(frozen=True)
class Read:
    """One SPARQL SELECT: its text, the engine switches it needs, the
    projected variables in order, and the equivalent SQL over ``t(s,p,o)``."""

    template: str
    sparql: str
    sql: str
    cols: tuple[str, ...]
    flags: tuple[tuple[str, bool], ...] = ()


def _q(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _tp(alias: str, p: str, s: str | None = None, o: str | None = None) -> str:
    conds = [f"{alias}.p = {_q(p)}"]
    if s is not None:
        conds.append(f"{alias}.s = {_q(s)}")
    if o is not None:
        conds.append(f"{alias}.o = {_q(o)}")
    return " AND ".join(conds)


def read_request(template: str, g: int, i: int) -> Read:
    """The ``template`` instance bound to department ``g`` (entity index ``i``
    where the template binds one)."""
    D, U = dept(g), univ(g)
    if template == "q1_const":
        C = ent("Course", g, 1 + i % 2)  # graduate students take courses 1 and 2
        return Read(
            template,
            PROLOGUE + f"SELECT ?x WHERE {{ ?x rdf:type ub:GraduateStudent . ?x ub:takesCourse <{C}> }}",
            "SELECT a.s FROM t a JOIN t b ON a.s = b.s WHERE "
            f"{_tp('a', 'rdf:type', o='ub:GraduateStudent')} AND {_tp('b', 'ub:takesCourse', o=C)}",
            ("x",),
        )
    if template == "q4_star":
        return Read(
            template,
            PROLOGUE + "SELECT ?x ?n ?e ?t WHERE { "
            f"?x ub:worksFor <{D}> . ?x rdf:type ub:FullProfessor . "
            "?x ub:name ?n . ?x ub:emailAddress ?e . ?x ub:telephone ?t }",
            "SELECT a.s, n.o, e.o, tl.o FROM t a JOIN t b ON a.s = b.s "
            "JOIN t n ON a.s = n.s JOIN t e ON a.s = e.s JOIN t tl ON a.s = tl.s WHERE "
            f"{_tp('a', 'ub:worksFor', o=D)} AND {_tp('b', 'rdf:type', o='ub:FullProfessor')} AND "
            f"{_tp('n', 'ub:name')} AND {_tp('e', 'ub:emailAddress')} AND {_tp('tl', 'ub:telephone')}",
            ("x", "n", "e", "t"),
        )
    if template == "watdiv_f":
        return Read(
            template,
            PROLOGUE + "SELECT ?p ?c ?cn ?d WHERE { ?p ub:teacherOf ?c . ?c ub:name ?cn . "
            f"?p ub:worksFor ?d . ?d ub:subOrganizationOf <{U}> }}",
            "SELECT a.s, a.o, b.o, c.o FROM t a JOIN t b ON a.o = b.s "
            "JOIN t c ON a.s = c.s JOIN t d ON c.o = d.s WHERE "
            f"{_tp('a', 'ub:teacherOf')} AND {_tp('b', 'ub:name')} AND "
            f"{_tp('c', 'ub:worksFor')} AND {_tp('d', 'ub:subOrganizationOf', o=U)}",
            ("p", "c", "cn", "d"),
        )
    if template == "watdiv_c":
        return Read(
            template,
            PROLOGUE + "SELECT ?s ?p ?c WHERE { ?s ub:advisor ?p . ?s ub:takesCourse ?c . "
            f"?p ub:teacherOf ?c . ?p ub:worksFor ?d . ?d ub:subOrganizationOf <{U}> . "
            "?c ub:name ?cn }",
            "SELECT a.s, a.o, b.o FROM t a JOIN t b ON a.s = b.s "
            "JOIN t c ON c.s = a.o AND c.o = b.o JOIN t w ON w.s = a.o "
            "JOIN t d ON d.s = w.o JOIN t n ON n.s = b.o WHERE "
            f"{_tp('a', 'ub:advisor')} AND {_tp('b', 'ub:takesCourse')} AND "
            f"{_tp('c', 'ub:teacherOf')} AND {_tp('w', 'ub:worksFor')} AND "
            f"{_tp('d', 'ub:subOrganizationOf', o=U)} AND {_tp('n', 'ub:name')}",
            ("s", "p", "c"),
        )
    if template == "lubm7":
        # the reference's own LUBM Q7 shape, unbound: the heaviest read
        return Read(
            template,
            PROLOGUE + "SELECT ?x ?y ?z WHERE { ?y ub:teacherOf ?z . "
            "?y rdf:type ub:FullProfessor . ?z rdf:type ub:Course . "
            "?x ub:advisor ?y . ?x rdf:type ub:UndergraduateStudent . ?x ub:takesCourse ?z }",
            "SELECT x.s, y.s, y.o FROM t y JOIN t yt ON yt.s = y.s JOIN t zt ON zt.s = y.o "
            "JOIN t x ON x.o = y.s JOIN t xt ON xt.s = x.s JOIN t xc ON xc.s = x.s AND xc.o = y.o WHERE "
            f"{_tp('y', 'ub:teacherOf')} AND {_tp('yt', 'rdf:type', o='ub:FullProfessor')} AND "
            f"{_tp('zt', 'rdf:type', o='ub:Course')} AND {_tp('x', 'ub:advisor')} AND "
            f"{_tp('xt', 'rdf:type', o='ub:UndergraduateStudent')} AND {_tp('xc', 'ub:takesCourse')}",
            ("x", "y", "z"),
        )
    if template == "chain":
        return Read(
            template,
            PROLOGUE + f"SELECT ?x ?d WHERE {{ ?x ub:memberOf ?d . ?d ub:subOrganizationOf <{U}> }}",
            "SELECT a.s, a.o FROM t a JOIN t b ON a.o = b.s WHERE "
            f"{_tp('a', 'ub:memberOf')} AND {_tp('b', 'ub:subOrganizationOf', o=U)}",
            ("x", "d"),
        )
    if template == "group_count":
        return Read(
            template,
            PROLOGUE + "SELECT ?d (COUNT(*) AS ?n) WHERE { ?x ub:memberOf ?d . "
            f"?d ub:subOrganizationOf <{U}> }} GROUP BY ?d",
            "SELECT a.o, count(*) FROM t a JOIN t b ON a.o = b.s WHERE "
            f"{_tp('a', 'ub:memberOf')} AND {_tp('b', 'ub:subOrganizationOf', o=U)} GROUP BY a.o",
            ("d", "n"),
            (("aggregates", True),),
        )
    if template == "path_seq":
        return Read(
            template,
            PROLOGUE + f"SELECT ?x WHERE {{ ?x ub:memberOf/ub:subOrganizationOf <{U}> }}",
            "SELECT a.s FROM t a JOIN t b ON a.o = b.s WHERE "
            f"{_tp('a', 'ub:memberOf')} AND {_tp('b', 'ub:subOrganizationOf', o=U)}",
            ("x",),
            (("paths", True),),
        )
    if template == "filter_const":
        P = ent("FullProfessor", g, i % PROFS)
        return Read(
            template,
            PROLOGUE + "SELECT ?x ?c WHERE { ?x ub:advisor ?p . ?x ub:takesCourse ?c . "
            f"FILTER(?p = <{P}>) }}",
            "SELECT a.s, b.o FROM t a JOIN t b ON a.s = b.s WHERE "
            f"{_tp('a', 'ub:advisor', o=P)} AND {_tp('b', 'ub:takesCourse')}",
            ("x", "c"),
            (("filters", True),),
        )
    if template == "optional":
        return Read(
            template,
            PROLOGUE + f"SELECT ?s ?g WHERE {{ ?s ub:memberOf <{D}> . "
            "OPTIONAL { ?s ub:undergraduateDegreeFrom ?g } }",
            "SELECT a.s, b.o FROM t a LEFT JOIN t b ON a.s = b.s AND "
            f"{_tp('b', 'ub:undergraduateDegreeFrom')} WHERE {_tp('a', 'ub:memberOf', o=D)}",
            ("s", "g"),
        )
    raise ValueError(f"unknown template {template!r}")


READ_TEMPLATES = (
    "q1_const", "q4_star", "watdiv_f", "watdiv_c", "lubm7",
    "chain", "group_count", "path_seq", "filter_const", "optional",
)


# --- update requests --------------------------------------------------------


@dataclass
class Update:
    """One SPARQL Update request and the same change as explicit steps for
    the oracle, in request order: ``("move", from_dept, to_dept)`` moves the
    undergraduates of one department, ``("insert", triples)`` is INSERT
    DATA."""

    sparql: str
    steps: list[tuple]
    readback: Read


def _term(x: str) -> str:
    return f"<{x}>" if x.startswith(("ub:", "rdf:")) else '"' + x + '"'


def _block(triples) -> str:
    return " . ".join(" ".join(_term(x) for x in t) for t in triples)


class Streams:
    """The per-seed request streams of the ``graph`` workload."""

    def __init__(self, seed: int, n_depts: int = GRAPH_DEPTS):
        self.seed = seed
        self.n_depts = n_depts
        self._read_rng = _rng(seed, "reads")
        self._reads = Zipf(n_depts, self._read_rng)
        self._upd_rng = _rng(seed, "updates")
        self._upds = Zipf(n_depts, self._upd_rng)

    def reads(self) -> list[Read]:
        """One request per template, in a fixed order, constants drawn fresh."""
        return [
            read_request(t, self._reads.draw(), self._read_rng.randrange(6))
            for t in READ_TEMPLATES
        ]

    def update(self, cycle: int) -> Update:
        """One request of two operations: a DELETE/INSERT WHERE moving a
        department's undergraduates to another department (its deletions
        become tombstones), then an INSERT DATA of new students."""
        rng, z = self._upd_rng, self._upds
        src, dst = z.draw(), z.draw()
        while dst == src:
            dst = z.draw()
        ins = []
        for j in range(NEW_STUDENTS):
            g = z.draw()
            s = f"ub:NewStudent_{self.seed}_{cycle}_{j}"
            ins += [
                (s, "rdf:type", "ub:UndergraduateStudent"),
                (s, "ub:memberOf", dept(g)),
                (s, "ub:advisor", ent("FullProfessor", g, rng.randrange(PROFS))),
                (s, "ub:takesCourse", ent("Course", g, rng.randrange(COURSES))),
                (s, "ub:name", f"Name NewStudent_{self.seed}_{cycle}_{j}"),
            ]
        sparql = (
            PROLOGUE
            + f"DELETE {{ ?s ub:memberOf <{dept(src)}> }} INSERT {{ ?s ub:memberOf <{dept(dst)}> }} "
            f"WHERE {{ ?s ub:memberOf <{dept(src)}> . ?s rdf:type ub:UndergraduateStudent }} ; "
            f"INSERT DATA {{ {_block(ins)} }}"
        )
        steps = [("move", dept(src), dept(dst)), ("insert", ins)]
        return Update(sparql, steps, read_request("group_count", dst, 0))


# --- curate inputs ----------------------------------------------------------

CURATE_DEPTS = 250
N_VECTORS = 4000
DIM = 64
COPY_FRACTION = 0.05  # verbatim copies
NEAR_FRACTION = 0.05  # one-token edits (text) / small perturbations (vectors)
NEAR_MIN_TOKENS = 40  # near-dup sources are long, so 3-shingle Jaccard >= 0.97
VEC_NOISE = 0.02


def plant_text_dups(docs: list[tuple[str, str]], seed: int):
    """``docs`` (doc_id, text) plus planted copies and near-copies.

    Returns (all docs, planted pairs as (original id, planted id))."""
    rng = _rng(seed, "text-dups")
    n = len(docs)
    copies = rng.sample(range(n), int(n * COPY_FRACTION))
    long_ones = [k for k, (_, t) in enumerate(docs) if len(t.split(" ")) >= NEAR_MIN_TOKENS]
    nears = rng.sample(long_ones, min(len(long_ones), int(n * NEAR_FRACTION)))
    out = list(docs)
    planted = []
    for j, k in enumerate(copies):
        did, text = docs[k]
        out.append((f"zcopy_{j:06d}", text))
        planted.append((did, f"zcopy_{j:06d}"))
    for j, k in enumerate(nears):
        did, text = docs[k]
        out.append((f"znear_{j:06d}", text + f" edit{rng.randrange(10**6)}"))
        planted.append((did, f"znear_{j:06d}"))
    return out, planted


def vectors(seed: int):
    """(ids, matrix) of seeded Gaussian vectors with planted copies and
    near-copies, and the planted pairs as (original id, planted id, kind)."""
    rng = np.random.default_rng(_rng(seed, "vectors").getrandbits(63))
    base = rng.standard_normal((N_VECTORS, DIM))
    n_copy, n_near = int(N_VECTORS * COPY_FRACTION), int(N_VECTORS * NEAR_FRACTION)
    src = rng.choice(N_VECTORS, n_copy + n_near, replace=False)
    copies = base[src[:n_copy]]
    nears = base[src[n_copy:]] + VEC_NOISE * rng.standard_normal((n_near, DIM))
    mat = np.vstack([base, copies, nears])
    planted = [(int(s), N_VECTORS + j, "copy" if j < n_copy else "near") for j, s in enumerate(src)]
    return np.arange(len(mat), dtype=np.int64), mat, planted
