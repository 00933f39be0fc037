"""corpus_refresh_waves: the incremental LLM-corpus path.

A seeded corpus lands wave by wave through ``corpus_refresh_step`` into
a fresh root (closed loop, one caller); one unit is one wave including
its catalog publish. After each wave the benchmark reads the corpus
back through ``corpus_snapshot`` plus a full scan and checks it against
the generator's ground truth. A traced run then runs the stream phase
(stream.py) on the same session."""

from __future__ import annotations

import linecache
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq

import gen
import stream
from common import layer_totals

TABLES = ("docs", "fps", "mh")
NEAR_J = 0.8

# Which stage of corpus_refresh_step a job belongs to. Jobs that an
# operator launches itself are named by the operator's file in the
# call-site chain; the step's own actions by the source line of the step
# that launched them (first match wins). The step persists ``wave_s``
# and counts it, so that one job runs the quality filter, the
# fingerprint, the exact anti-join and MinHash: it is the "near" stage.
# The later ``wave_e.count()`` recounts the unpersisted exact stage
# (quality filter, fingerprint, anti-join, keep-min) on its own.
_OPERATOR_FILES = (
    ("operators/dedupe.py", "dedupe.near"),
    ("functions/text.py", "text"),
)
_STEP_LINES = (
    ("wave_q.count()", "text"),
    ("wave_e.count()", "dedupe.exact"),
    ("wave_s.count()", "dedupe.near"),
    ("wave.count()", "refresh.input"),
)


def _pkg_root() -> str:
    import etl_sendas_spark

    return os.path.dirname(etl_sendas_spark.__file__)


def _wave_path(in_dir: str, i: int) -> str:
    return os.path.join(in_dir, f"wave-{i:03d}.parquet")


class Corpus:
    name = "corpus_refresh_waves"

    @staticmethod
    def prepare_inputs(seed: int, in_dir: str, trace: bool) -> dict:
        """Generate the waves and land each as one parquet file; when
        traced, generate the stream phase's events and land its backlog."""
        t0 = time.perf_counter()
        prepared_stream = None
        if trace:
            prepared_stream = stream.prepare_inputs(os.path.join(in_dir, "stream"), seed)
        waves, props = gen.gen_corpus(seed)
        os.makedirs(in_dir, exist_ok=True)
        for i, wave in enumerate(waves):
            t = pa.table(
                {
                    "doc_id": pa.array([d["doc_id"] for d in wave], pa.int64()),
                    "text": [d["text"] for d in wave],
                }
            )
            pq.write_table(t, _wave_path(in_dir, i))
        if trace:
            props["stream"] = prepared_stream["props"]
        return {
            "props": props, "waves": waves, "stream": prepared_stream,
            "gen_s": time.perf_counter() - t0,
        }

    @staticmethod
    def oracle(in_dir: str) -> None:
        """The checks need no precomputed oracle: the generator's ground
        truth comes with the inputs."""
        return None

    def __init__(self, spark, tracer, work: str, prepared: dict, oracle) -> None:
        self.spark = spark
        self.tr = tracer
        self.in_dir = os.path.join(work, "inputs")
        self.root = os.path.join(work, "corpus")
        self.waves: list = prepared["waves"]
        self.props: dict = prepared["props"]
        self.summaries: dict = {}
        self.accepted_sum = 0
        self.recall: tuple[int, int] = (0, 0)
        self.read_s: dict = {}
        self.run_layers: dict = {}
        self._log_before: dict = {}
        self.stream = None
        if prepared["stream"] is not None:
            self.stream = stream.StreamPhase(
                spark, tracer, os.path.join(self.in_dir, "stream"), work, prepared["stream"]
            )

    @property
    def max_units(self) -> int:
        return len(self.waves)

    # -- one wave -------------------------------------------------------

    def unit(self, k) -> tuple[float, int]:
        from etl_sendas_spark.plans.corpus_refresh import corpus_refresh_step

        self._log_before = self._log_state()
        tr = self.tr
        with tr.span("unit", unit=k) as rec:
            with tr.span("corpus_refresh_step", k, spark_call=True):
                wave_df = self.spark.read.parquet(_wave_path(self.in_dir, k))
                self.summaries[k] = corpus_refresh_step(
                    self.spark, self.root, wave_df, f"wave-{k:03d}"
                )
        return rec["end"] - rec["start"], len(self.waves[k])

    def check(self, k) -> list[str]:
        """Read the corpus back and check this wave's invariants."""
        from etl_sendas_spark.plans.corpus_refresh import corpus_snapshot
        from etl_sendas_spark.sources.txlog import Catalog, TxLogTable

        errors = []
        s = self.summaries[k]
        wave = self.waves[k]
        kinds = [d["kind"] for d in wave]
        parts = ("rejected_quality", "rejected_exact", "rejected_near", "accepted")
        if s["wave_rows"] != len(wave) or min(s[p] for p in parts) < 0:
            errors.append(f"wave {k}: counts do not reconcile: {s}")
        # the generator knows which docs are low quality and which are
        # exact copies: each must be rejected at its own stage
        for part, kind in (("rejected_quality", "low"), ("rejected_exact", "exact")):
            if s[part] != kinds.count(kind):
                errors.append(f"wave {k}: {part}={s[part]}, wave has {kinds.count(kind)} {kind} docs")

        with self.tr.span("corpus_snapshot", k, spark_call=True) as snap:
            docs_df, rec = corpus_snapshot(self.spark, self.root)
        with self.tr.span("scan", k, spark_call=True) as scan:
            docs = docs_df.select("doc_id", "text").toArrow()
        self.read_s[k] = (snap["end"] - snap["start"], scan["end"] - scan["start"])

        ids = docs["doc_id"].to_pylist()
        texts = docs["text"].to_pylist()
        accepted = set(ids)
        if len(accepted) != len(ids):
            errors.append(f"wave {k}: snapshot repeats {len(ids) - len(accepted)} doc ids")
        # every original so far is in the snapshot, no exact copy or
        # low-quality doc is, and near copies are in it only if missed
        seen = [d for w in self.waves[: k + 1] for d in w]
        missing = [d["doc_id"] for d in seen if d["kind"] == "original" and d["doc_id"] not in accepted]
        if missing:
            errors.append(f"wave {k}: {len(missing)} original docs not in the snapshot (first {missing[0]})")
        extra = accepted - {d["doc_id"] for d in seen if d["kind"] in ("original", "near")}
        if extra:
            errors.append(
                f"wave {k}: snapshot holds {len(extra)} exact copies or low-quality docs"
                f" (first id {min(extra)})"
            )
        self.accepted_sum += s["accepted"]
        if len(ids) != self.accepted_sum:
            errors.append(f"wave {k}: snapshot has {len(ids)} docs, the waves accepted {self.accepted_sum}")
        fps = [gen.fingerprint(t) for t in texts]
        if len(set(fps)) != len(fps):
            errors.append(f"wave {k}: {len(fps) - len(set(fps))} accepted docs share a fingerprint")

        pins = Catalog(os.path.join(self.root, "_manifest")).pins()
        for t in TABLES:
            v = pins.get(t)
            table = TxLogTable(os.path.join(self.root, t))
            if v is None or int(v) not in table.versions():
                errors.append(f"wave {k}: manifest pin {t}={v} does not resolve")
            elif table.row_count(int(v)) != len(ids):
                errors.append(
                    f"wave {k}: {t}@{v} holds {table.row_count(int(v))} rows,"
                    f" the snapshot {len(ids)}"
                )
        if pins.get("docs") is not None and int(pins["docs"]) != int(s["docs_version"]):
            errors.append(f"wave {k}: manifest pins docs@{pins['docs']}, step wrote {s['docs_version']}")

        self._near_recall(k, accepted)
        return errors

    def _near_recall(self, k: int, accepted: set) -> None:
        """Planted near duplicates (exact Jaccard >= 0.8 to an accepted
        source) that the wave rejected, against the ones it should have."""
        text_of = {d["doc_id"]: d["text"] for w in self.waves[: k + 1] for d in w}
        found, planted = self.recall
        for d in self.waves[k]:
            if d["kind"] != "near" or d["src"] not in accepted:
                continue
            if gen.jaccard(gen.shingles(d["text"]), gen.shingles(text_of[d["src"]])) < NEAR_J:
                continue
            planted += 1
            found += d["doc_id"] not in accepted
        self.recall = (found, planted)

    def cleanup(self, k) -> None:
        pass

    def finish(self, rss) -> tuple[int, int, list[str]]:
        """The stream phase, after the waves of a traced run."""
        if self.stream is None:
            return 0, 0, []
        attempted, failed, errors, self.run_layers = self.stream.run(rss)
        return attempted, failed, errors

    # -- tracing --------------------------------------------------------

    def _log_state(self) -> dict:
        """Versions and log-directory entries of each state table."""
        from etl_sendas_spark.sources.txlog import Catalog, TxLogTable

        out = {}
        for t in TABLES + ("_manifest",):
            root = os.path.join(self.root, t)
            if t == "_manifest":
                logdir, log = root, Catalog(root)
            else:
                logdir, log = os.path.join(root, "_txlog"), TxLogTable(root)
            entries = len(os.listdir(logdir)) if os.path.isdir(logdir) else 0
            out[t] = (set(log.versions()), entries)
        return out

    def _layer(self, job: dict) -> str:
        span = job["span"]
        if span == "corpus_snapshot":
            return "txlog.snapshot"
        if span == "scan":
            return "txlog.read"
        site = job["site"] or ""
        if "sources/txlog.py" in site:
            return "txlog.commit"
        for fname, layer in _OPERATOR_FILES:
            if fname in site:
                return layer
        first = site.split(">", 1)[0]
        if first.startswith("plans/corpus_refresh.py:"):
            line = linecache.getline(
                os.path.join(_pkg_root(), "plans", "corpus_refresh.py"),
                int(first.rsplit(":", 1)[1]),
            )
            for needle, layer in _STEP_LINES:
                if needle in line:
                    return layer
            # a renamed variable would silently move time elsewhere
            raise LookupError(f"no layer for the job launched at {first}: {line.strip()!r}")
        return "refresh.other"

    def layer_metrics(self, k) -> tuple[dict, list]:
        """Per-layer figures of traced wave ``k`` (call after check)
        and the Spark jobs of the wave itself."""
        from etl_sendas_spark.sources.txlog import TxLogTable

        spans = [s for s in self.tr.spans if s["unit"] == k]
        jobs = [j for s in spans for j in self.tr.jobs(s)]
        lt = layer_totals(jobs, self._layer)

        def get(layer, key):
            return lt[layer][key] if layer in lt else 0

        after = self._log_state()
        commits = files = bytes_ = 0
        for t in TABLES:
            table = TxLogTable(os.path.join(self.root, t))
            for v in sorted(after[t][0] - self._log_before[t][0]):
                commits += 1
                for rel in table.commit_meta(v).get("add", []):
                    files += 1
                    bytes_ += os.path.getsize(os.path.join(table.root, rel))
        # the wave's catalog publish
        commits += len(after["_manifest"][0] - self._log_before["_manifest"][0])
        s = self.summaries[k]
        found, planted = self.recall
        snap_s, scan_s = self.read_s[k]
        return {
            "text.quality_s": get("text", "wall_s"),
            "text.rejected_ratio": s["rejected_quality"] / s["wave_rows"],
            "dedupe.exact_s": get("dedupe.exact", "wall_s"),
            "dedupe.near_s": get("dedupe.near", "wall_s"),
            "dedupe.shuffle_write_bytes": get("dedupe.exact", "shuffle_write")
            + get("dedupe.near", "shuffle_write"),
            "dedupe.near_recall": found / planted if planted else 1.0,
            "refresh.accepted_ratio": s["accepted"] / s["wave_rows"],
            "txlog.commits": commits,
            "txlog.commit_s": get("txlog.commit", "wall_s"),
            "txlog.bytes_written": bytes_,
            "txlog.files_added": files,
            "txlog.log_entries": sum(e for _v, e in after.values()),
            "txlog.read_s": scan_s,
            "txlog.snapshot_read_s": snap_s,
        }, [j for j in jobs if j["span"] == "corpus_refresh_step"]
