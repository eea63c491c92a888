"""The benchmark workloads: seeded inputs, one op each, output checks.

Every workload is a class with the same three steps:

- ``prepare(spark)`` makes the inputs from the seed. Snapshots, batches and
  documents are generated with NumPy and written with PyArrow, so the JVM
  does no work before the first op, except where the workload's own state
  must come from the engine (the ingest part of ``ingest_prep`` seeds its
  state tables through the sink it measures).
- ``op(spark, tracer)`` runs one user-visible unit of work and returns what
  the user would look at (the report, the window scores, the funnel).
- ``check(out)`` returns the list of problems in that output; empty means
  correct.

Sizes come from ``SIZES[size][workload]``: ``"bench"`` is what ``run.py``
measures, ``"tiny"`` is for the self-test.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    "bench": {
        "tall_snapshot": {"rows": 100_000},
        "wide_snapshot": {"rows": 8_000, "numeric": 10, "categorical": 4},
        "ingest_prep": {"batch_rows": 5_000, "window": 7, "docs": 1_000},
    },
    "tiny": {
        "tall_snapshot": {"rows": 4_000},
        "wide_snapshot": {"rows": 1_000, "numeric": 4, "categorical": 2},
        "ingest_prep": {"batch_rows": 3_000, "window": 2, "docs": 400},
    },
}

_EPOCH_2000_US = 946_684_800 * 1_000_000
_DAY_US = 86_400 * 1_000_000


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


def _result_keys(report: dict) -> set[tuple]:
    return {
        (r["column_type"], r["column_name"], r["dimension_id"])
        for r in report["results"]
    }


class _SnapshotWorkload:
    """A ref/curr pair in the versioned-parquet layout, scored by the
    runner: ``load_snapshot`` x2 → ``detect_drift`` → ``write_results`` →
    ``build_report``. Subclasses generate the table and name the drifted
    columns."""

    def __init__(self, seed: int, workdir: str, size: dict):
        self.seed = seed
        self.workdir = workdir
        self.size = size
        self.table_path = os.path.join(workdir, "snapshots")
        self.output_path = os.path.join(workdir, "results")
        self.drifted: list[str] = []
        self.first_keys: set[tuple] | None = None
        self.rows = 0
        self.columns = 0

    def _tables(self, rng: np.random.Generator) -> tuple[pa.Table, pa.Table]:
        raise NotImplementedError

    def prepare(self, spark) -> None:
        shutil.rmtree(self.table_path, ignore_errors=True)
        shutil.rmtree(self.output_path, ignore_errors=True)
        ref, curr = self._tables(np.random.default_rng(self.seed))
        _write(ref, os.path.join(self.table_path, "v=0"))
        _write(curr, os.path.join(self.table_path, "v=1"))
        self.rows = ref.num_rows + curr.num_rows
        self.columns = ref.num_columns

    def cells(self) -> int:
        return self.rows * self.columns

    def op(self, spark, tracer) -> dict:
        from pyspark_data_drift_detector_spark import runner

        config = {
            "table_path": self.table_path,
            "reference_version": 0,
            "current_version": 1,
            "output_path": self.output_path,
            "output_format": "parquet",
        }
        with tracer.span("op"):
            return runner.run_data_drift_detection(spark, config)

    def check(self, report: dict) -> list[str]:
        problems = []
        flagged = {
            r["column_name"]
            for r in report["results"]
            if r["column_type"] in ("numerical", "categorical")
            and r["dimension_id"] == "all"
            and r["drift_detected"]
        }
        missed = sorted(set(self.drifted) - flagged)
        if missed:
            problems.append(f"drift not flagged on {missed}")
        keys = _result_keys(report)
        if not keys:
            problems.append("empty result")
        if self.first_keys is None:
            self.first_keys = keys
        elif keys != self.first_keys:
            problems.append(
                f"result keys changed: {len(keys ^ self.first_keys)} differ"
            )
        return problems


class TallSnapshot(_SnapshotWorkload):
    """``lineitem``-shaped rows (11 columns), split by a seeded coin into
    the two snapshots; three seeded columns of ``curr`` get drift."""

    _DRIFTS = {
        "l_quantity": lambda rng, v: v * 1.3,
        "l_extendedprice": lambda rng, v: v * 1.25,
        "l_discount": lambda rng, v: np.round(v + 0.03, 2),
        "l_tax": lambda rng, v: np.round(v * 2.0, 2),
        "l_returnflag": lambda rng, v: rng.choice(
            np.array(["A", "N", "R"]), size=v.size, p=[0.6, 0.2, 0.2]
        ),
        "l_linestatus": lambda rng, v: rng.choice(
            np.array(["F", "O"]), size=v.size, p=[0.85, 0.15]
        ),
    }

    def _tables(self, rng):
        n = self.size["rows"]
        orderkey = np.sort(rng.integers(1, n // 4 + 2, size=n))
        quantity = rng.integers(1, 51, size=n).astype(np.float64)
        partkey = rng.integers(1, 20_001, size=n)
        cols = {
            "l_orderkey": orderkey,
            "l_partkey": partkey,
            "l_suppkey": (partkey * 7 + rng.integers(0, 4, size=n)) % 1_000 + 1,
            "l_linenumber": rng.integers(1, 8, size=n).astype(np.int32),
            "l_quantity": quantity,
            "l_extendedprice": np.round(
                quantity * rng.uniform(900.0, 2_000.0, size=n), 2
            ),
            "l_discount": rng.integers(0, 11, size=n) / 100.0,
            "l_tax": rng.integers(0, 9, size=n) / 100.0,
            "l_returnflag": rng.choice(
                np.array(["A", "N", "R"]), size=n, p=[0.25, 0.5, 0.25]
            ),
            "l_linestatus": rng.choice(np.array(["F", "O"]), size=n),
            "l_shipdate": _EPOCH_2000_US
            + rng.integers(0, 2_500, size=n) * _DAY_US,
        }
        to_curr = rng.random(n) < 0.5
        self.drifted = sorted(
            rng.choice(sorted(self._DRIFTS), size=3, replace=False).tolist()
        )
        ref = {k: v[~to_curr] for k, v in cols.items()}
        curr = {k: v[to_curr] for k, v in cols.items()}
        for c in self.drifted:
            curr[c] = self._DRIFTS[c](rng, curr[c])
        return _arrow(ref), _arrow(curr)


def _arrow(cols: dict) -> pa.Table:
    arrays = {}
    for k, v in cols.items():
        if k.endswith("date"):
            arrays[k] = pa.array(v, type=pa.timestamp("us"))
        else:
            arrays[k] = pa.array(v)
    return pa.table(arrays)


class WideSnapshot(_SnapshotWorkload):
    """Few rows, many columns: ``numeric`` columns (pairs of them strongly
    correlated), ``categorical`` string columns of growing cardinality and
    one date column. Two numeric and one categorical column drift."""

    def _tables(self, rng):
        n, n_num, n_cat = (
            self.size["rows"],
            self.size["numeric"],
            self.size["categorical"],
        )

        def side(rng, shifts: dict) -> pa.Table:
            cols: dict = {}
            for i in range(n_num):
                if i % 2 and f"x{i - 1:02d}" in cols:
                    base = cols[f"x{i - 1:02d}"]
                    v = 0.8 * base + rng.normal(0.0, 5.0, size=n)
                elif i % 3 == 0:
                    v = rng.normal(100.0 + i, 15.0, size=n)
                elif i % 3 == 1:
                    v = rng.lognormal(3.0, 0.5, size=n)
                else:
                    v = rng.uniform(0.0, 100.0, size=n)
                cols[f"x{i:02d}"] = v * shifts.get(f"x{i:02d}", 1.0)
            for j in range(n_cat):
                card = 3 + 4 * j
                p = np.arange(card, 0, -1, dtype=np.float64)
                if f"c{j:02d}" in shifts:
                    p = p[::-1]
                cols[f"c{j:02d}"] = rng.choice(
                    np.array([f"v{k}" for k in range(card)]), size=n, p=p / p.sum()
                )
            cols["event_date"] = _EPOCH_2000_US + rng.integers(0, 900, size=n) * _DAY_US
            return _arrow(cols)

        num_pick = rng.choice(n_num, size=2, replace=False)
        cat_pick = int(rng.integers(0, n_cat))
        self.drifted = sorted(
            [f"x{i:02d}" for i in num_pick] + [f"c{cat_pick:02d}"]
        )
        shifts = {c: (1.4 if c.startswith("x") else 1.0) for c in self.drifted}
        return side(rng, {}), side(rng, shifts)


class IncrementalIngest:
    """The daily-ingest loop. Set-up seeds ``2 * window`` batches of state;
    each op appends the next batch through ``state_table_sink`` and scores
    the trailing ``window`` batches against the ``window`` before them.

    Batch ``b`` carries injected drift (``value`` x1.5 and an
    ``event_type`` mix flip) when ``b % period == phase``. An op must flag
    ``value`` and ``event_type`` when a drifted batch is in either window,
    and no numeric column otherwise. Numeric columns are uniform, so their
    range and moments are stable between clean windows; categorical
    columns are not checked for false flags, because the categorical rule
    flags a chi-square p-value below 0.05, about one clean window in
    twenty by design."""

    NUMERIC = ["value", "latency_ms", "amount"]
    CATEGORICAL = ["event_type", "region"]
    DRIFTED = ["event_type", "value"]

    def __init__(self, seed: int, workdir: str, size: dict):
        self.seed = seed
        self.workdir = workdir
        self.window = size["window"]
        self.batch_rows = size["batch_rows"]
        self.period = 3 * self.window
        # the first op scores a clean pair of windows; the second op's
        # batch is the first drifted one
        self.phase = 2 * self.window + 1
        self.next_batch = 0
        self.state = {
            k: os.path.join(workdir, "state", k)
            for k in ("profile", "category", "quantile")
        }
        self.batch_dir = os.path.join(workdir, "batches")
        self._bytes = 0

    def _batch_table(self, b: int) -> pa.Table:
        n = self.batch_rows
        rng = np.random.default_rng([self.seed, b])
        drifted = b % self.period == self.phase
        value = rng.uniform(20.0, 80.0, size=n) * (1.5 if drifted else 1.0)
        p = np.array([0.5, 0.3, 0.15, 0.05])
        return pa.table(
            {
                "batch": pa.array(np.full(n, b, dtype=np.int64)),
                "value": pa.array(value),
                "latency_ms": pa.array(rng.uniform(1.0, 200.0, size=n)),
                "amount": pa.array(np.round(rng.uniform(5.0, 500.0, size=n), 2)),
                "event_type": pa.array(
                    rng.choice(
                        np.array(["view", "click", "cart", "buy"]),
                        size=n,
                        p=p[::-1] if drifted else p,
                    )
                ),
                "region": pa.array(
                    rng.choice(np.array(["eu", "us", "apac"]), size=n)
                ),
            }
        )

    def _sink(self):
        from pyspark_data_drift_detector_spark.streaming import state_tables

        return state_tables.state_table_sink(
            self.NUMERIC,
            self.CATEGORICAL,
            "batch",
            self.state["profile"],
            self.state["category"],
            quantile_path=self.state["quantile"],
        )

    def prepare(self, spark) -> None:
        shutil.rmtree(self.batch_dir, ignore_errors=True)
        seeded = 2 * self.window
        history = pa.concat_tables([self._batch_table(b) for b in range(seeded)])
        _write(history, os.path.join(self.batch_dir, "history"))
        self.next_batch = seeded

    def seed_state(self, spark) -> None:
        """Write the history's state through the sink, once per run: the
        state grows by one batch per op, so its size is bounded by the run
        length."""
        shutil.rmtree(os.path.join(self.workdir, "state"), ignore_errors=True)
        self._sink()(spark.read.parquet(os.path.join(self.batch_dir, "history")), -1)

    def cells(self) -> int:
        return self.batch_rows * (len(self.NUMERIC) + len(self.CATEGORICAL))

    def expected_flags(self, latest: int) -> set[str]:
        first = latest - 2 * self.window + 1
        if any(b % self.period == self.phase for b in range(first, latest + 1)):
            return set(self.DRIFTED)
        return set()

    def op(self, spark, tracer) -> dict:
        from pyspark_data_drift_detector_spark import pipeline
        from pyspark_data_drift_detector_spark.streaming import state_tables

        b = self.next_batch
        path = os.path.join(self.batch_dir, f"b{b:05d}")
        _write(self._batch_table(b), path)
        self.next_batch += 1
        with tracer.span("op"):
            batch = spark.read.parquet(path)
            with tracer.span("state_tables.sink"):
                self._sink()(batch, b)
            with tracer.span("incremental.score"):
                prof, cats, quants = state_tables.read_state_tables(
                    spark,
                    self.state["profile"],
                    self.state["category"],
                    self.state["quantile"],
                )
                prior = [str(i) for i in range(b - 2 * self.window + 1, b - self.window + 1)]
                current = [str(i) for i in range(b - self.window + 1, b + 1)]
                rows = pipeline.detect_drift_incremental(
                    prof, cats, prior, current, quantile_state=quants
                ).collect()
        return {"latest": b, "scores": [r.asDict() for r in rows]}

    def check(self, out: dict) -> list[str]:
        problems = []
        scores = out["scores"]
        covered = {r["column_name"] for r in scores}
        missing = sorted(set(self.NUMERIC + self.CATEGORICAL) - covered)
        if missing:
            problems.append(f"window scores miss {missing}")
        if any(r["drift_score"] is None for r in scores):
            problems.append("NULL drift score")
        flagged = {r["column_name"] for r in scores if r["drift_detected"]}
        want = self.expected_flags(out["latest"])
        wrong = (want - flagged) | (flagged & (set(self.NUMERIC) - want))
        if wrong:
            problems.append(
                f"batch {out['latest']}: flagged {sorted(flagged)}, want {sorted(want)}"
            )
        return problems

    def probe(self, spark) -> dict:
        """Per-layer counts, read between ops: state bytes written since
        the previous probe and the state rows the next score scans."""
        size = 0
        for root in self.state.values():
            for d, _, files in os.walk(root):
                size += sum(os.path.getsize(os.path.join(d, f)) for f in files)
        written, self._bytes = size - self._bytes, size
        rows = sum(spark.read.parquet(p).count() for p in self.state.values())
        return {"state_tables.bytes_written": written, "incremental.state_rows": rows}


# Vocabulary shaped like the harness ``documents`` table: a small technical
# word list plus the English stopwords the quality gate looks for.
_WORDS = np.array(
    "key agg row scan slow fast table value part hash join small big line "
    "customer query order group sort filter window stream batch merge spark "
    "data column vector plan cache shuffle stage task driver node partition "
    "index sketch bloom merge count".split()
    + ["the", "a", "and", "of", "to", "is", "in"] * 3
)


class CorpusPrep:
    """LLM training-data cleaning over a seeded corpus: ``clean_corpus`` +
    ``corpus_funnel``, then ``minhash_lsh_pairs`` → ``neardup_clusters`` →
    ``dedup_survivors``. The corpus has seeded rates of empty documents,
    low-quality documents, exact copies and near-duplicates (one or two
    words edited)."""

    EMPTY, JUNK, EXACT, NEAR = 0.01, 0.04, 0.05, 0.10

    def __init__(self, seed: int, workdir: str, size: dict):
        self.seed = seed
        self.workdir = workdir
        self.n_docs = size["docs"]
        self.path = os.path.join(workdir, "documents")
        self.first_survivors: int | None = None
        self.pairs: int | None = None

    def prepare(self, spark) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        rng = np.random.default_rng(self.seed)
        n = self.n_docs
        texts: list[str] = []
        kinds = rng.random(n)
        cuts = np.cumsum([self.EMPTY, self.JUNK, self.EXACT, self.NEAR])
        for i in range(n):
            k = kinds[i]
            if i > 0 and cuts[1] <= k < cuts[3]:
                src = texts[int(rng.integers(0, i))].split(" ")
                if k >= cuts[2] and len(src) > 4:
                    for _ in range(int(rng.integers(1, 3))):
                        src[int(rng.integers(0, len(src)))] = str(rng.choice(_WORDS))
                texts.append(" ".join(src))
            elif k < cuts[0]:
                texts.append("")
            elif k < cuts[1]:
                texts.append(" ".join([str(rng.choice(_WORDS[:8]))] * 12))
            else:
                words = rng.choice(_WORDS, size=int(rng.integers(30, 90)))
                texts.append(" ".join(words.tolist()))
        table = pa.table(
            {
                "doc_id": pa.array(np.arange(n, dtype=np.int64)),
                "text": pa.array(texts),
                "lang": pa.array(["en"] * n),
                "source": pa.array([f"src{i % 5}" for i in range(n)]),
                "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
            }
        )
        _write(table, self.path)

    def cells(self) -> int:
        return self.n_docs

    def op(self, spark, tracer) -> dict:
        from pyspark_data_drift_detector_spark import corpus_pipeline
        from pyspark_data_drift_detector_spark.operators import dedup

        with tracer.span("op"):
            docs = spark.read.parquet(self.path)
            with tracer.span("corpus.clean"):
                annotated = corpus_pipeline.clean_corpus(docs)
                funnel = {
                    r["stage"]: r["n_docs"]
                    for r in corpus_pipeline.corpus_funnel(annotated).collect()
                }
            with tracer.span("dedup.lsh"):
                pairs = dedup.minhash_lsh_pairs(docs)
            with tracer.span("dedup.clusters"):
                clusters = dedup.neardup_clusters(pairs)
            with tracer.span("dedup.survivors"):
                survivors = dedup.dedup_survivors(docs, clusters).count()
        return {"funnel": funnel, "survivors": survivors}

    def probe(self, spark) -> dict:
        """Per-layer counts, read between ops. The verified pair count
        depends only on the seed, so it is counted once."""
        from pyspark_data_drift_detector_spark.operators import dedup

        if self.pairs is None:
            self.pairs = dedup.minhash_lsh_pairs(spark.read.parquet(self.path)).count()
        return {"dedup.pairs": self.pairs}

    def check(self, out: dict) -> list[str]:
        problems = []
        total = sum(out["funnel"].values())
        if total != self.n_docs:
            problems.append(f"funnel sums to {total}, corpus has {self.n_docs}")
        if out["funnel"].get("duplicate", 0) == 0:
            problems.append("no exact duplicate dropped")
        survivors = out["survivors"]
        if not 0 < survivors < self.n_docs:
            problems.append(f"{survivors} survivors of {self.n_docs} documents")
        if self.first_survivors is None:
            self.first_survivors = survivors
        elif survivors != self.first_survivors:
            problems.append(
                f"survivors changed: {survivors} vs {self.first_survivors}"
            )
        return problems


class IngestPrep:
    """The two daily batch jobs that do not go through the snapshot runner,
    back to back in one op: an ``IncrementalIngest`` op, then a
    ``CorpusPrep`` op. Each part keeps its own inputs and output check."""

    def __init__(self, seed: int, workdir: str, size: dict):
        self.ingest = IncrementalIngest(seed, os.path.join(workdir, "ingest"), size)
        self.corpus = CorpusPrep(seed, os.path.join(workdir, "corpus"), size)

    def prepare(self, spark) -> None:
        self.ingest.prepare(spark)
        self.corpus.prepare(spark)

    def seed_state(self, spark) -> None:
        self.ingest.seed_state(spark)

    def cells(self) -> int:
        return self.ingest.cells() + self.corpus.cells()

    def op(self, spark, tracer) -> dict:
        with tracer.span("op"):
            return {
                "ingest": self.ingest.op(spark, tracer),
                "corpus": self.corpus.op(spark, tracer),
            }

    def check(self, out: dict) -> list[str]:
        return self.ingest.check(out["ingest"]) + self.corpus.check(out["corpus"])

    def probe(self, spark) -> dict:
        return {**self.ingest.probe(spark), **self.corpus.probe(spark)}


WORKLOADS = {
    "ingest_prep": IngestPrep,
    "tall_snapshot": TallSnapshot,
    "wide_snapshot": WideSnapshot,
}
