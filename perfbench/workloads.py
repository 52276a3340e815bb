"""The closed-loop workloads: one client, sequential public calls.

Each workload builds its inputs from the seed (``prepare``), makes its
warm-up calls after the session start (``warmup``, timed into
``setup_s``), then runs unit calls (``call``) until the window ends and
at least ``min_calls`` were made. Every call's output is checked. A
call reports how many documents it processed and any output check it
missed;
``finish`` runs the checks that are too costly for every call, and
``layers`` adds the workload's own per-layer values to a traced run.
"""

from __future__ import annotations

import contextlib
import os
import random
import sys
import time
import traceback
from collections import Counter

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import inputs
from valico_spark.operators import drift, relational, stats
from valico_spark.operators.spans import add_span_checks
from valico_spark.operators.validate import (
    validate_dataframe, validate_json_column, violation_rows,
)
from valico_spark.rulesets import DOCS_RULESET

VIOLATION_KEY = ["doc_id", "code", "title", "path", "detail"]


class Call:
    """Outcome of one unit call.

    ``latency`` is the whole call unless the workload times a narrower
    part of it."""

    def __init__(self, docs: int, problems: list[str],
                 latency: float | None = None, **parts: float):
        self.docs = docs
        self.problems = problems
        self.latency = latency
        self.parts = parts


def guarded(label: str, fn) -> Call:
    """Run one call; a call that raises counts as failed."""
    t = time.perf_counter()
    try:
        c = fn()
    except Exception as e:
        traceback.print_exc()
        c = Call(0, [f"raised {e!r}"])
    if c.latency is None:
        c.latency = time.perf_counter() - t
    print(f"{label} {c.latency:.3f} s", *c.problems, sep="\n  ",
          file=sys.stderr)
    return c


def call_once(spark, wl, k: int, ledger=None) -> Call:
    """Unit call ``k``."""
    return guarded(f"call {k}{' traced' if ledger else ''}",
                   lambda: wl.call(spark, k, ledger))


def _call(ledger, name: str):
    """The ledger's per-call scope when tracing, else nothing."""
    return ledger.call(name) if ledger else contextlib.nullcontext()


def _expect(label: str, got, want) -> list[str]:
    return [] if got == want else [f"{label}: got {got}, expected {want}"]


class DocsAudit:
    """Validate -> violation rows written, then the table-scale checks."""

    name = "docs_audit"
    # passes keep getting faster for several passes after the first
    # (driver-side JIT), so the window is counted in passes: the same
    # three in every run, whatever the host's speed
    min_calls = 3
    n_docs = 50_000
    # the warm-up passes run over a small table of their own: a pass is
    # mostly per-job cost, and the JIT warms per pass, not per row
    warm_passes = 2
    n_warm_docs = 2_000
    parity_sample = 500

    def prepare(self, run_dir: str, seed: int) -> dict:
        self.run_dir = run_dir
        self.media = inputs.write_media(run_dir, seed + 1)
        self.docs = self._recount(
            inputs.write_docs(run_dir, self.n_docs, seed, "docs"))
        self.warm_docs = self._recount(
            inputs.write_docs(run_dir, self.n_warm_docs, seed + 2, "warm"))
        table = pq.read_table(self.docs["path"])
        self.sample_ids = sorted(set(random.Random(seed).sample(
            table["doc_id"].to_pylist(), self.parity_sample)))
        self.sample_path = os.path.join(run_dir, "sample.parquet")
        pq.write_table(table.filter(pc.is_in(
            table["doc_id"], value_set=pa.array(self.sample_ids))),
            self.sample_path)
        return {k: v for k, v in self.docs.items()
                if k not in ("path", "dups", "orphans", "ks")}

    def warmup(self, spark) -> list[Call]:
        """Whole passes over the small table: the first in a new JVM
        takes several times as long as the next, since nothing is
        compiled yet, and the next few keep getting faster."""
        return [guarded("warm-up",
                        lambda: self._pass(spark, self.warm_docs))
                for _ in range(self.warm_passes)]

    def _recount(self, docs: dict) -> dict:
        """Independent recounts of what the table checks report:
        duplicated ids and dangling media refs (pyarrow), and the binned
        KS statistic between hot and other docs' span counts (numpy)."""
        table = pq.read_table(docs["path"])
        ids = table["doc_id"].value_counts()
        refs = pc.struct_field(pc.list_flatten(table["spans"]), "media_ref")
        refs = refs.filter(pc.is_valid(refs))
        media = pq.read_table(self.media, columns=["media_ref"])
        n_spans = pc.list_value_length(table["spans"]).to_numpy(
            zero_copy_only=False)
        hot = pc.starts_with(table["doc_id"], "p00").to_numpy(
            zero_copy_only=False)
        return {**docs,
                "dups": pc.sum(pc.greater(ids.field("counts"), 1)).as_py(),
                "orphans": pc.sum(pc.invert(pc.is_in(
                    refs, value_set=media["media_ref"]))).as_py(),
                "ks": inputs.ks_binned(n_spans[hot], n_spans[~hot])}

    def call(self, spark, k: int, ledger=None) -> Call:
        return self._pass(spark, self.docs, ledger)

    def _pass(self, spark, inp: dict, ledger=None) -> Call:
        t0 = time.perf_counter()
        validate_s = self._validate(spark, inp, ledger)
        c = self._checks(spark, inp, ledger)
        c.parts["validate_s"] = validate_s
        c.latency = time.perf_counter() - t0
        return c

    def _validate(self, spark, inp: dict, ledger=None) -> float:
        docs = spark.read.parquet(inp["path"])
        t = time.perf_counter()
        with _call(ledger, "validate"):
            validated = validate_dataframe(add_span_checks(docs),
                                           DOCS_RULESET, mode="columns")
            (violation_rows(validated, ["doc_id", "spans_ordered",
                                        "span_sig"])
             .write.mode("overwrite")
             .parquet(os.path.join(self.run_dir, "violations")))
        return time.perf_counter() - t

    def _checks(self, spark, inp: dict, ledger=None) -> Call:
        docs = spark.read.parquet(inp["path"])
        t1 = time.perf_counter()
        with _call(ledger, "relational.unique"):
            dups = relational.duplicate_keys(docs, ["doc_id"]).count()
        t2 = time.perf_counter()
        with _call(ledger, "relational.orphans"):
            refs = (docs.select(F.explode("spans").alias("s"))
                        .select(F.col("s.media_ref").alias("media_ref")))
            orphans = relational.orphans(
                refs, "media_ref", spark.read.parquet(self.media),
                "media_ref").count()
        t3 = time.perf_counter()
        with _call(ledger, "stats.profile"):
            prof = stats.profile(docs.select(
                "doc_id", F.size("spans").alias("n_spans"))).collect()
        t4 = time.perf_counter()
        with _call(ledger, "drift"):
            n_spans = docs.select(
                F.size("spans").alias("n_spans"),
                F.col("doc_id").startswith("p00").alias("hot"))
            ks = drift.ks_binned(n_spans.where("hot"),
                                 n_spans.where("NOT hot"), "n_spans")
        t5 = time.perf_counter()
        problems = (_expect("duplicate_keys", dups, inp["dups"])
                    + _expect("orphans", orphans, inp["orphans"])
                    + _expect("profile n_rows", prof[0]["n_rows"],
                              inp["docs"])
                    + _expect(f"ks {ks} within 1e-9 of {inp['ks']}",
                              abs(ks - inp["ks"]) <= 1e-9, True))
        return Call(inp["docs"], problems, table_checks_s=t5 - t1,
                    unique_s=t2 - t1, orphans_s=t3 - t2, profile_s=t4 - t3,
                    drift_s=t5 - t4)

    def finish(self, spark) -> list[str]:
        """Violation rows of a seeded sample equal those of the
        reference-parity walker."""
        ids = self.sample_ids
        written = (spark.read.parquet(os.path.join(self.run_dir,
                                                   "violations"))
                   .where(F.col("doc_id").isin(ids)).select(*VIOLATION_KEY))
        walker = violation_rows(
            validate_dataframe(spark.read.parquet(self.sample_path),
                               DOCS_RULESET, mode="arrow"),
            ["doc_id"]).select(*VIOLATION_KEY)
        got = Counter(tuple(r) for r in written.collect())
        want = Counter(tuple(r) for r in walker.collect())
        if got != want:
            return [f"violation rows differ from the walker on "
                    f"{len(ids)} sampled ids: {sum((got - want).values())} "
                    f"extra, {sum((want - got).values())} missing"]
        return []

    def layers(self, ledger, n: int) -> dict:
        return {}


class JsonRulesets:
    """One conformance ruleset per call over a small replicated batch of
    its instances, ``validate_json_column(mode="auto")``."""

    name = "json_rulesets"
    strata = 24
    batch = 64
    # the JIT keeps speeding up the driver-side compile and planning
    # paths for about a hundred calls, so the window is counted in
    # calls: one whole round over the set, calls 0 to strata - 1 after
    # the same warm-up in every run, whatever the host's speed
    min_calls = strata
    # two VARIANT-path rulesets and one walker ruleset, so the Python
    # worker daemon starts in the warm-up, not in the first walker call
    warm_groups = ("items-tuple", "type-integer", "format-regex")

    def prepare(self, run_dir: str, seed: int) -> dict:
        rng = random.Random(seed)
        self.rulesets = inputs.ruleset_set(self.strata)
        self.batches = [inputs.instance_batch(tests, self.batch, rng)
                        for _g, _v, _s, tests in self.rulesets]
        self.warm = [inputs.ruleset_named(g) for g in self.warm_groups]
        self.warm_batches = [inputs.instance_batch(tests, self.batch, rng)
                             for _g, _v, _s, tests in self.warm]
        self.rng = rng
        self.order: list[int] = []
        return {"rulesets": len(self.rulesets),
                "draft2019_share": sum(v == 2019 for _, v, _, _ in
                                       self.rulesets) / len(self.rulesets),
                "batch_rows": self.batch}

    def warmup(self, spark) -> list[Call]:
        return [guarded(f"warm-up {case[0]}",
                        lambda: self._validate(spark, case, rows, None))
                for case, rows in zip(self.warm, self.warm_batches)]

    def call(self, spark, k: int, ledger=None) -> Call:
        """Call ``k`` is in round ``k // strata``; each round calls every
        ruleset once, in a seeded order of its own."""
        n = len(self.rulesets)
        while len(self.order) <= k:
            self.order += self.rng.sample(range(n), n)
        i = self.order[k]
        before = ledger.totals["plan.python_nodes"] if ledger else 0
        out = self._validate(spark, self.rulesets[i], self.batches[i],
                             ledger)
        if ledger:
            walker = ledger.totals["plan.python_nodes"] > before
            ledger.add("validate.walker_rulesets" if walker
                       else "validate.variant_rulesets", 1)
            ledger.add("validate.rows", out.docs)
        return out

    def _validate(self, spark, case, rows, ledger) -> Call:
        group, version, schema, tests = case
        df = spark.createDataFrame(rows, "i int, doc string")
        t = time.perf_counter()
        with _call(ledger, f"ruleset:{group}"):
            out = validate_json_column(df, "doc", schema, version=version,
                                       mode="auto")
            got = out.select("i", "valid").collect()
        latency = time.perf_counter() - t
        wrong = sum(r["valid"] != tests[r["i"]][1] for r in got)
        problems = (_expect(f"{group} verdict rows", len(got), len(rows))
                    + _expect(f"{group} wrong verdicts", wrong, 0))
        return Call(len(rows), problems, latency)

    def finish(self, spark) -> list[str]:
        return []

    def layers(self, ledger, n: int) -> dict:
        rows = ledger.totals["validate.rows"]
        return {"validate.walker_rows_frac":
                (ledger.totals["python.rows"] / rows, "frac")}


WORKLOADS = {w.name: w for w in (DocsAudit, JsonRulesets)}
