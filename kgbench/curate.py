"""The ``curate`` workload: one client runs the dedup and similarity
operators over a seeded corpus with planted duplicates.

Set-up flattens the fixture documents to text, plants verbatim copies and
one-token edits of long documents, makes seeded 64-d vectors with planted
copies and small perturbations, and caches both. One tiny untimed job
starts the Python workers. There is no warm-up pass of the operators: a
fresh batch job pays their JIT warm-up too, and a warm-up pass (some 15 s
on four cores) did not make the measured pass steadier from run to run.

The measured loop repeats whole passes until the run's time is up; a pass
calls each of the six operators once and materializes its output
(``localCheckpoint``), so the check afterwards reads the same rows the
timed call produced.
"""

from __future__ import annotations

import time
from collections import Counter

import oracles as O
from inputs import CURATE_DEPTS, corpus, plant_text_dups, vectors
from tracing import log, median, warm_python_workers

LSH_THRESHOLD = 0.95
SEMDEDUP_THRESHOLD = 0.95
MINHASH_THRESHOLD = 0.5
JACCARD_THRESHOLD = 0.3
JACCARD_MAX_DF = 100


def _operators(text, emb):
    from parj_spark.operators import dedup, similarity

    return [
        ("dedup", "exact", lambda: dedup.exact_dedup_groups(text)),
        ("dedup", "simhash", lambda: dedup.simhash32(text)),
        ("dedup", "minhash", lambda: dedup.minhash_lsh_pairs(text, jaccard_threshold=MINHASH_THRESHOLD)),
        (
            "dedup",
            "jaccard",
            lambda: dedup.ngram_jaccard_pairs(text, threshold=JACCARD_THRESHOLD, max_df=JACCARD_MAX_DF),
        ),
        ("similarity", "lsh_neardup", lambda: similarity.cosine_lsh_neardup_pairs(emb, threshold=LSH_THRESHOLD)),
        ("similarity", "semdedup", lambda: similarity.semantic_dedup(emb, threshold=SEMDEDUP_THRESHOLD)),
    ]


class CurateWorkload:
    def __init__(self, ctx):
        self.ctx = ctx
        self.tr = ctx.tracer
        self.lat: dict[str, list[float]] = {}
        self.rows: dict[str, int] = {}  # output rows of the last call

    def setup(self) -> float:
        """Generate the inputs (untimed), then time loading them into the
        session's cache: the set-up every operator call shares."""
        spark, seed = self.ctx.spark, self.ctx.seed
        base = [(did, " ".join(x[1] for x in spans)) for did, spans in corpus(CURATE_DEPTS, seed)]
        self.docs, planted = plant_text_dups(base, seed)
        self.text_planted = planted
        self.ids, self.mat, vplanted = vectors(seed)
        self.vec_planted = [(a, b) for a, b, _ in vplanted]
        self.vec_copies = [(a, b) for a, b, kind in vplanted if kind == "copy"]
        t0 = time.perf_counter()
        self.text = spark.createDataFrame(self.docs, "doc_id string, text string").cache()
        self.text.count()
        self.emb = spark.createDataFrame(
            [(int(i), v.tolist()) for i, v in zip(self.ids, self.mat)],
            "vec_id long, embedding array<double>",
        ).cache()
        self.emb.count()
        setup = time.perf_counter() - t0
        warm_python_workers(spark)
        return setup

    def check_setup(self) -> list[str]:
        self.text_by_id = dict(self.docs)
        self.sh3 = {k: O.shingles(v, 3) for k, v in self.docs}
        self.sh2 = {k: O.shingles(v, 2) for k, v in self.docs}
        df2 = Counter(x for sh in self.sh2.values() for x in sh)
        self.rare2 = {x for x, n in df2.items() if n <= JACCARD_MAX_DF}
        self.cos = O.cosine(self.mat)
        # max_df makes the reported Jaccard a lower bound: only the shared
        # bigrams under the document-frequency cap count as intersection; a
        # planted pair must be reported when that bound reaches the threshold
        self.jaccard_must = [p for p in self.text_planted if self._jaccard_lb(*p) >= JACCARD_THRESHOLD]
        return []

    def _jaccard_lb(self, a: str, b: str) -> float:
        """The operator's bound: shared bigrams under the cap over the
        union size estimated from the full set sizes."""
        sa, sb = self.sh2[a], self.sh2[b]
        k = len(sa & sb & self.rare2)
        return round(k / (len(sa) + len(sb) - k), 6)

    def check(self, name: str, rows) -> list[str]:
        if name == "exact":
            got = {(r[0], r[1], r[2]) for r in rows}
            want = O.exact_groups(self.docs)
            return [] if got == want else [f"{len(got ^ want)} groups differ"]
        if name == "simhash":
            got = {r[0]: r[1] for r in rows}
            bad = [k for k, v in self.text_by_id.items() if got.get(k) != O.simhash32(v)]
            return [f"wrong for {len(bad)} docs, e.g. {bad[0]}"] if bad else []
        if name == "minhash":
            return O.check_pairs(
                rows, self.text_planted,
                lambda a, b: round(O.jaccard(self.sh3[a], self.sh3[b]), 6), MINHASH_THRESHOLD,
            )
        if name == "jaccard":
            return O.check_pairs(rows, self.jaccard_must, self._jaccard_lb, JACCARD_THRESHOLD)
        if name == "lsh_neardup":
            return O.check_pairs(
                [(int(a), int(b), v) for a, b, v in rows], self.vec_planted, self.cos, LSH_THRESHOLD,
            )
        if name == "semdedup":
            return O.check_semdedup(
                [(r[0], r[1]) for r in rows], self.vec_copies, self.cos, SEMDEDUP_THRESHOLD, len(self.ids),
            )
        raise ValueError(name)

    def one_pass(self, outcome) -> None:
        for layer, name, op in _operators(self.text, self.emb):
            def call(op=op, layer=layer, name=name):
                with self.tr.span(f"operators.{layer}:{name}"):
                    return op().localCheckpoint()

            t0 = time.perf_counter()
            out = outcome.run(call)
            if out is None:
                continue
            self.lat.setdefault(name, []).append(time.perf_counter() - t0)
            with outcome.untimed():
                rows = out.collect()
                self.rows[name] = len(rows)
                outcome.check([f"{name}: {e}" for e in self.check(name, rows)])
            log(f"{name} done")

    def info(self, passes) -> dict[str, tuple[float, str]]:
        out = {"curate_s": (median(passes), "s"), "passes": (len(passes), "count")}
        for name, xs in self.lat.items():
            out[f"{name}_s"] = (median(xs), "s")
        return out

    def per_layer(self) -> dict[str, float]:
        m: dict[str, float] = {}
        spill = 0
        for layer, names in (("dedup", ("exact", "simhash", "minhash", "jaccard")),
                             ("similarity", ("lsh_neardup", "semdedup"))):
            for name in names:
                spans = self.tr.named(f"operators.{layer}:{name}")
                inc = [s["spark_inclusive"] for s in spans]
                m[f"{layer}.{name}.s"] = median([s["dur_s"] for s in spans])
                m[f"{layer}.{name}.shuffle_bytes"] = median([x["shuffle_bytes"] for x in inc])
                m[f"{layer}.{name}.task_skew"] = median([x["task_skew"] for x in inc])
                m[f"{layer}.{name}.rows"] = self.rows.get(name, 0)
                spill += sum(x["spill_bytes"] for x in inc)
        m["curate.spill_bytes"] = spill
        return m


def run(ctx, outcome) -> dict:
    w = CurateWorkload(ctx)
    setup = w.setup()
    log(f"inputs cached in {setup:.1f}s")
    outcome.verify(w.check_setup())
    log("oracle inputs ready")
    passes = []
    t_start, u_start = time.perf_counter(), outcome.untimed_s
    while not passes or time.perf_counter() - t_start - (outcome.untimed_s - u_start) < ctx.seconds:
        t0, u0 = time.perf_counter(), outcome.untimed_s
        w.one_pass(outcome)
        passes.append(time.perf_counter() - t0 - (outcome.untimed_s - u0))
    log(f"curate: {len(passes)} pass(es)")
    return {
        "setup": setup,
        "cycle_s": median(passes),
        "info": w.info(passes),
        "per_layer": w.per_layer if ctx.tracer.enabled else None,
    }
