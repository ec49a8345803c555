"""Seeded inputs and the workloads the benchmark runs.

Each workload drives the engine only through `unify_spark.cli.main(
["validate", ...])`, in-process, against tables generated from the seed.
Correctness is checked on every iteration against an expectation fixed
before timing starts.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import os
import random
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Input sizes: "bench" is measured, "tiny" is the self-test's.
SIZES = {
    "bench": {"rows": 20_000, "parts": 8, "files_per_part": 1},
    "tiny": {"rows": 2_000, "parts": 8, "files_per_part": 1},
}
PAYLOAD_CAP_MS = 50
SAMPLE_RATE = 0.01
DAY2_EDITED_ROWS = 3
TABLE_FILES = {
    "clips": "clips",
    "transcript_map": "transcript_map.parquet",
    "codec_domain": "codec_domain.parquet",
    "reference_decode": "reference_decode.parquet",
}


class CheckFailed(Exception):
    """An iteration's output differs from the expectation."""


def table_args(data_dir: str) -> list[str]:
    return ["--tables"] + [f"{n}={os.path.join(data_dir, f)}" for n, f in TABLE_FILES.items()]


def validate(argv: list[str]) -> tuple[int, dict, float]:
    """One in-process `validate`: (exit code, JSON report, wall seconds)."""
    from unify_spark import cli

    buf = io.StringIO()
    t = time.perf_counter()
    with contextlib.redirect_stdout(buf):
        rc = cli.main(["validate", *argv])
    wall = time.perf_counter() - t
    text = buf.getvalue()
    report = json.loads(text[text.index("{"):])
    return rc, report, wall


def check_outcome(rc: int, report: dict, expected: dict[str, int]) -> None:
    # exit 1 is the expected verdict (the fixture carries injected violations);
    # 2 means a stage errored, 0 that violations went unseen
    if rc != 1:
        raise CheckFailed(f"validate exit code {rc}, expected 1")
    got = {k: v for k, v in report["violation_counts"].items() if v}
    want = {k: v for k, v in expected.items() if v}
    if got != want:
        raise CheckFailed(f"violation counts {got} != expected {want}")


# -- inputs ---------------------------------------------------------------------


def generate(data_dir: str, seed: int, size: str) -> dict:
    """The seeded fixture (the engine's generator). Injected-violation rows do
    not depend on the seed, so the manifest is the expectation at any seed."""
    from unify_spark.fixtures import generate_fixture

    s = SIZES[size]
    m = generate_fixture(data_dir, n_rows=s["rows"], n_parts=s["parts"], seed=seed,
                         payload_cap_ms=PAYLOAD_CAP_MS, files_per_part=s["files_per_part"])
    return json.loads(m.to_json())


def expected_counts(clips: pa.Table, manifest: dict,
                    sample_rate: float | None = None) -> dict[str, int]:
    """Per-constraint violation counts the full suite must report, from the
    fixture manifest (V1-V8 of FIXTURES.md). The manifest lists range and
    null rows jointly; the split per column is read from the rows. With
    `sample_rate`, the payload check's names count only rows in its
    keep-set: md5(clip_id) prefix under the rate's threshold, recomputed
    here with hashlib."""
    from unify_spark.fixtures.generate import SR_CHOICES
    from unify_spark.functions.sampling import hash_threshold

    df = clips.select(["clip_id", "sr_hz", "transcript", "bytes"]).to_pandas()
    rng = df[df.clip_id.isin(manifest["range_clip_ids"])]
    nul = df[df.clip_id.isin(manifest["nullness_clip_ids"])]
    bad_sr = int((~rng.sr_hz.isin(SR_CHOICES)).sum())
    payload_ids = list(manifest["payload_clip_ids"])
    null_bytes_ids = list(nul.clip_id[nul["bytes"].isna()])
    if sample_rate is not None:
        thr = hash_threshold(sample_rate)

        def kept(ids):
            return [c for c in ids if hashlib.md5(c.encode()).hexdigest()[: len(thr)] < thr]

        payload_ids, null_bytes_ids = kept(payload_ids), kept(null_bytes_ids)
    return {
        "uniqueness:clips.clip_id": 2 * len(manifest["uniqueness_clip_ids"]),
        "referential:transcript_map.clip_id->clips.clip_id": len(manifest["dangling_transcript_ids"]),
        "equality:clips.transcript=transcript_map.transcript": len(manifest["mismatch_transcript_ids"]),
        "domain:clips.codec": len(manifest["codec_domain_clip_ids"]),
        "range:clips.sr_hz": bad_sr,
        "range:clips.dur_ms": len(manifest["range_clip_ids"]) - bad_sr,
        "required:clips.transcript": int(nul.transcript.isna().sum()),
        "required:clips.bytes": len(null_bytes_ids),
        "payload:clips.bytes": len(payload_ids),
        "drift:clips.dur_ms": 1 if manifest["drift_part"] else 0,
    }


def make_day2(day1: str, day2: str, seed: int, manifest: dict) -> None:
    """Day-2 copy of the fixture in which one seed-chosen partition changed:
    DAY2_EDITED_ROWS clean rows there get an edited transcript (each a new
    transcript-equality violation). Unchanged files are hard-linked."""
    clips1, clips2 = os.path.join(day1, "clips"), os.path.join(day2, "clips")
    parts = sorted(d for d in os.listdir(clips1) if d.startswith("part_date="))
    rnd = random.Random(seed)
    changed = rnd.choice(parts)
    flagged = {c for k, v in manifest.items() if k.endswith("_ids") for c in v}
    for dirpath, _, files in os.walk(day1):
        dst = os.path.join(day2, os.path.relpath(dirpath, day1))
        os.makedirs(dst, exist_ok=True)
        for f in files:
            if os.path.join(clips1, changed) != dirpath:
                os.link(os.path.join(dirpath, f), os.path.join(dst, f))
    files = sorted(f for f in os.listdir(os.path.join(clips1, changed)) if f.endswith(".parquet"))
    tables = [pq.read_table(os.path.join(clips1, changed, f)) for f in files]
    candidates = sorted(
        (fi, r) for fi, t in enumerate(tables)
        for r, (cid, tr) in enumerate(zip(t["clip_id"].to_pylist(), t["transcript"].to_pylist()))
        if cid not in flagged and tr is not None
    )
    picks = rnd.sample(candidates, DAY2_EDITED_ROWS)
    for fi, t in enumerate(tables):
        rows = {r for f, r in picks if f == fi}
        tr = t["transcript"].to_pylist()
        for r in rows:
            tr[r] = tr[r] + " (day 2 edit)"
        field = t.schema.field("transcript")
        t = t.set_column(t.schema.get_field_index("transcript"), field, pa.array(tr, field.type))
        pq.write_table(t, os.path.join(clips2, changed, files[fi]), row_group_size=8192)


# -- workloads --------------------------------------------------------------------


class _Workload:
    def _inputs(self, data_dir: str, seed: int, size: str, timings: dict) -> pa.Table:
        """Generate the day-1 fixture; returns its clips table."""
        t = time.perf_counter()
        self.manifest = generate(data_dir, seed, size)
        timings["generate_s"] = time.perf_counter() - t
        clips = pq.read_table(os.path.join(data_dir, "clips"))
        self.n_clips = clips.num_rows
        self.payload_bytes = int(pc.sum(pc.binary_length(clips["bytes"])).as_py() or 0)
        self.n_parts = SIZES[size]["parts"]
        return clips


class FusedFull(_Workload):
    """`validate --fused --no-resume`: the full 9-constraint audio suite in
    one fused pass, every payload decoded."""

    name = "fused_full"

    def prepare(self, work: str, seed: int, size: str, timings: dict) -> None:
        self.data = os.path.join(work, "day1")
        self.expected = expected_counts(self._inputs(self.data, seed, size, timings),
                                        self.manifest)

    def iterate(self, out: str, run_id: str) -> tuple[float, dict]:
        rc, report, wall = validate(
            table_args(self.data) + ["--out", out, "--run-id", run_id, "--fused", "--no-resume"])
        check_outcome(rc, report, self.expected)
        return wall, report


class DailyIncremental(_Workload):
    """A day-2 re-validation: `validate --profile --metrics-repo <fresh>
    --incremental-from <day-1 out> --payload-sample-rate 0.01` (staged
    runner), where one seed-chosen partition changed since day 1."""

    name = "daily_incremental"
    FLAGS = ["--payload-sample-rate", str(SAMPLE_RATE)]

    def prepare(self, work: str, seed: int, size: str, timings: dict) -> None:
        day1 = os.path.join(work, "day1")
        self.data = os.path.join(work, "day2")
        # the edits touch transcripts only: row count and payload bytes hold
        day1_counts = expected_counts(self._inputs(day1, seed, size, timings), self.manifest,
                                      SAMPLE_RATE)
        make_day2(day1, self.data, seed, self.manifest)
        day2_counts = dict(day1_counts)
        day2_counts["equality:clips.transcript=transcript_map.transcript"] += DAY2_EDITED_ROWS
        # day 1: a full run that every iteration is incremental against, and
        # the warm-up. It does not profile: profiling would double its cost.
        self.baseline = os.path.join(work, "baseline")
        rc, report, _ = validate(
            table_args(day1) + ["--out", self.baseline, "--run-id", "day1", "--no-resume"]
            + self.FLAGS)
        check_outcome(rc, report, day1_counts)
        self.expected = day2_counts

    def iterate(self, out: str, run_id: str) -> tuple[float, dict]:
        repo = out + "-metrics"
        rc, report, wall = validate(
            table_args(self.data) + ["--out", out, "--run-id", run_id, "--profile",
                                     "--metrics-repo", repo, "--incremental-from", self.baseline]
            + self.FLAGS)
        check_outcome(rc, report, self.expected)
        return wall, report

    def recompute_frac(self, report: dict) -> float:
        """Recomputed ÷ all (constraint, partition) verdict cells of the run."""
        from unify_spark.plans import audio_suite

        total = sum(self.n_parts if c.table == "clips" else 1
                    for c in audio_suite(payload_sample_rate=SAMPLE_RATE))
        seeded = sum(report["incremental"]["seeded"].values())
        return (total - seeded) / total


WORKLOADS = {w.name: w for w in (FusedFull, DailyIncremental)}


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, files) under path."""
    size = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return size, files

