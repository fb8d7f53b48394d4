"""Independent oracles for every output the benchmark checks.

Graph reads and updates are checked against DuckDB holding the same triples
as plain rows; curate outputs are recomputed in Python/numpy from the
generated inputs. Nothing here imports the engine.
"""

from __future__ import annotations

import hashlib
import duckdb
import numpy as np


def rows_digest(rows) -> tuple[int, int]:
    """(row count, order-independent hash) of a bag of rows."""
    h = 0
    n = 0
    for r in rows:
        key = "\x1f".join("\x00" if v is None else str(v) for v in r)
        h = (h + int.from_bytes(hashlib.blake2b(key.encode(), digest_size=8).digest(), "big")) % (1 << 64)
        n += 1
    return n, h


class GraphOracle:
    """The graph as a DuckDB table ``t(s, p, o)``, updated in step with the
    engine's update stream."""

    def __init__(self, triples, tmp_dir: str):
        self.con = duckdb.connect(config={"temp_directory": tmp_dir, "threads": 1})
        self.con.execute("CREATE TABLE t (s VARCHAR, p VARCHAR, o VARCHAR)")
        self._insert(triples)
        self.version = 0
        self._memo: dict[tuple[int, str], tuple[int, int]] = {}

    def _insert(self, triples) -> int:
        if not triples:
            return 0
        before = self.count()
        self.con.executemany("INSERT INTO t VALUES (?, ?, ?)", list(triples))
        # an RDF graph is a set
        self.con.execute("CREATE OR REPLACE TABLE t AS SELECT DISTINCT * FROM t")
        return self.count() - before

    def count(self) -> int:
        return self.con.execute("SELECT count(*) FROM t").fetchone()[0]

    def expect(self, read) -> tuple[int, int]:
        """Digest of the read's rows over the current state (memoized)."""
        key = (self.version, read.sparql)
        if key not in self._memo:
            self._memo[key] = rows_digest(self.con.execute(read.sql).fetchall())
        return self._memo[key]

    def apply(self, upd) -> int:
        """Apply one update request, step by step; returns the number of
        triples it changed."""
        self.version += 1
        changed = 0
        for step in upd.steps:
            if step[0] == "move":
                _, src, dst = step
                movers = [
                    r[0]
                    for r in self.con.execute(
                        "SELECT a.s FROM t a JOIN t b ON a.s = b.s WHERE a.p = 'ub:memberOf' "
                        "AND a.o = ? AND b.p = 'rdf:type' AND b.o = 'ub:UndergraduateStudent'",
                        [src],
                    ).fetchall()
                ]
                changed += self._delete([(s, "ub:memberOf", src) for s in movers])
                changed += self._insert([(s, "ub:memberOf", dst) for s in movers])
            else:
                changed += self._insert(step[1])
        return changed

    def _delete(self, triples) -> int:
        before = self.count()
        for s, p, o in triples:
            self.con.execute("DELETE FROM t WHERE s = ? AND p = ? AND o = ?", [s, p, o])
        return before - self.count()

    def triples(self) -> set[tuple[str, str, str]]:
        return set(self.con.execute("SELECT s, p, o FROM t").fetchall())

    def close(self) -> None:
        self.con.close()


# --- curate -----------------------------------------------------------------


def shingles(text: str, n: int) -> set[str]:
    toks = text.lower().split(" ")
    if len(toks) < n:
        return set()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: set, b: set) -> float:
    u = len(a | b)
    return len(a & b) / u if u else 0.0


def exact_groups(docs) -> set[tuple[str, str, int]]:
    """(md5 of text, min id, group size) for every distinct text."""
    groups: dict[str, list[str]] = {}
    for did, text in docs:
        groups.setdefault(hashlib.md5(text.encode()).hexdigest(), []).append(did)
    return {(k, min(v), len(v)) for k, v in groups.items()}


def simhash32(text: str) -> int:
    votes = [0] * 32
    for tok in text.lower().split(" "):
        h = int(hashlib.md5(tok.encode()).hexdigest()[:8], 16)
        for b in range(32):
            votes[b] += 1 if (h >> b) & 1 else -1
    return sum(1 << b for b in range(32) if votes[b] > 0)


def check_pairs(reported, must, sim, threshold: float) -> list[str]:
    """``reported`` rows are (id_a, id_b, similarity). Every pair in
    ``must`` is reported; every reported similarity matches the oracle's
    ``sim(a, b)`` and is at or above the threshold."""
    errors = []
    got = {(min(a, b), max(a, b)): v for a, b, v in reported}
    missing = [p for p in must if (min(p), max(p)) not in got]
    if missing:
        errors.append(f"{len(missing)} planted pairs not reported, e.g. {missing[0]}")
    wrong = [(k, v) for k, v in got.items() if abs(sim(*k) - v) > 1e-5 or v < threshold]
    if wrong:
        (a, b), v = wrong[0]
        errors.append(f"{len(wrong)} reported pairs wrong, e.g. {a},{b}: {v} vs oracle {sim(a, b)}")
    return errors


def cosine(mat: np.ndarray):
    unit = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    return lambda a, b: float(unit[a] @ unit[b])


def check_semdedup(rows, planted_copies, sim, threshold: float, n: int) -> list[str]:
    """One row per vector; a planted copy shares its original's cluster and
    is not canonical; every non-canonical member is within ``threshold`` of
    some other member of its cluster."""
    errors = []
    cluster = {int(r[0]): int(r[1]) for r in rows}
    if len(cluster) != n or len(rows) != n:
        errors.append(f"semantic_dedup returned {len(rows)} rows for {n} vectors")
    for orig, cp in planted_copies:
        if cluster.get(orig) != cluster.get(cp) or cluster.get(cp) == cp:
            errors.append(f"planted copy {cp} of {orig} not deduplicated")
            break
    members: dict[int, list[int]] = {}
    for v, c in cluster.items():
        members.setdefault(c, []).append(v)
    for c, vs in members.items():
        if len(vs) < 2:
            continue
        for v in vs:
            if not any(sim(v, w) >= threshold - 1e-6 for w in vs if w != v):
                errors.append(f"vector {v} in cluster {c} has no member within {threshold}")
                return errors
    return errors
