"""Seeded input generators for the benchmark.

Every generator is a pure function of its seed, and every file it writes
goes under the run directory the caller passes in (inside the
benchmark's own directory). The table writers also return the input
properties the measured layers depend on, as shares measured on the
generated data, not as the knobs that produced it.
"""

from __future__ import annotations

import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from valico_spark.sources.conformance import CASES
from valico_spark.sources.synth import generate_docs, generate_media_assets

N_MEDIA = 100_000

# (group, draft version 7 or 2019, schema, [(instance, expected valid)])
Case = tuple[str, int, object, list]


def write_docs(run_dir: str, n_docs: int, seed: int, name: str) -> dict:
    """Interleaved docs (``sources/synth``) as parquet: hot ``p00``
    prefix, zipf span counts, 4% defects, 1% dangling media refs, 0.1%
    duplicate ids."""
    table = generate_docs(n_docs, seed=seed, n_media=N_MEDIA)
    path = os.path.join(run_dir, f"{name}.parquet")
    # four row groups: one scan task per core of local[4]
    pq.write_table(table, path, row_group_size=-(-n_docs // 4))
    n_spans = pc.list_value_length(table["spans"]).to_numpy(
        zero_copy_only=False)
    hot = pc.starts_with(table["doc_id"], "p00")
    return {"path": path, "docs": table.num_rows,
            "spans": int(n_spans.sum()),
            "hot_prefix_share": pc.mean(hot.cast(pa.int8())).as_py(),
            "span_count_p50": float(np.percentile(n_spans, 50)),
            "span_count_p99": float(np.percentile(n_spans, 99)),
            "span_count_max": int(n_spans.max()),
            "empty_span_share": float((n_spans == 0).mean())}


def write_media(run_dir: str, seed: int) -> str:
    path = os.path.join(run_dir, "media_assets.parquet")
    pq.write_table(generate_media_assets(N_MEDIA, seed=seed), path)
    return path


def ks_binned(a: np.ndarray, b: np.ndarray, bins: int = 1024) -> float:
    """Binned two-sample KS statistic computed the way
    ``operators.drift.ks_binned`` defines it: ``bins`` equal-width bins
    over the pooled range, max |ECDF_a - ECDF_b| over the bins."""
    a = a.astype(np.float64)
    b = b.astype(np.float64)
    pooled = np.concatenate([a, b])
    lo, hi = pooled.min(), pooled.max()
    width = hi - lo

    def cdf(v: np.ndarray) -> np.ndarray:
        if width > 0:
            ids = np.minimum(bins - 1,
                             np.floor((v - lo) / width * bins)).astype(int)
        else:
            ids = np.zeros(len(v), dtype=int)
        return np.cumsum(np.bincount(ids, minlength=bins)) / max(len(v), 1)

    return float(np.abs(cdf(a) - cdf(b)).max())


# -- json_rulesets ------------------------------------------------------

def ruleset_set(strata: int) -> list[Case]:
    """The rulesets every run calls: the conformance rulesets (draft-07
    and 2019-09) sorted by schema size, cut into ``strata`` groups, the
    middle one of each. Schema size drives compile and planning cost;
    the set is the same for every seed, because the median latency of
    a window is a median over the rulesets it calls, and a seeded
    sample of a few dozen rulesets moves it between seeds."""
    by_size = sorted(range(len(CASES)),
                     key=lambda i: (len(json.dumps(CASES[i][2])), i))
    bounds = [round(k * len(by_size) / strata) for k in range(strata + 1)]
    return [_case(by_size[(lo + hi) // 2])
            for lo, hi in zip(bounds, bounds[1:])]


def _case(i: int) -> Case:
    group, draft, schema, tests = CASES[i]
    return group, 2019 if draft != "draft7" else 7, schema, tests


def ruleset_named(group: str) -> Case:
    return _case(next(i for i, c in enumerate(CASES) if c[0] == group))


def instance_batch(tests: list, rows: int,
                   rng: random.Random) -> list[tuple[int, str]]:
    """One group's instances repeated into a batch of ``rows``
    ``(case index, JSON text)`` rows, in a seeded order."""
    batch = [(k % len(tests), json.dumps(tests[k % len(tests)][0]))
             for k in range(rows)]
    rng.shuffle(batch)
    return batch
