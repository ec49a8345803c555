"""Layer-floor probes: each layer of the fused suite materialized alone with
the noop sink, so a per-layer figure does not depend on how the runner
schedules it. They probe the fixture, not the workload, and run only in the
traced run."""

from __future__ import annotations

import statistics
import time

import numpy as np

REPEATS = 3
PCM_ROWS, PCM_SR = 256, 16_000


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _median_s(fn) -> float:
    walls = []
    for _ in range(REPEATS):
        t = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t)
    return statistics.median(walls)


def floor_probes(spark, data_dir: str, payload_cap_ms: int) -> dict[str, float]:
    from pyspark.sql import functions as F

    from unify_spark.operators.base import ValidationContext
    from unify_spark.operators.drift import DriftConstraint
    from unify_spark.operators.payload import AudioPayloadConstraint
    from unify_spark.plans import audio_suite, load_audio_tables

    tables = load_audio_tables(spark, data_dir)
    ctx = ValidationContext(run_id="probe", payload_cap_ms=payload_cap_ms)
    clips = tables["clips"]
    suite = audio_suite()
    payload = next(c for c in suite if isinstance(c, AudioPayloadConstraint))
    by_kind = {}
    for c in suite:
        by_kind.setdefault(c.name.split(":", 1)[0], []).append(c)

    def violations(kinds):
        return lambda: [_noop(c.violations(tables, ctx)) for k in kinds for c in by_kind[k]]

    def identity(batches):
        yield from batches

    projection = clips.select("clip_id", "bytes", "sr_hz", "dur_ms", "codec",
                              F.col(ctx.part_col).alias("part"))
    out = {
        "sources.meta_scan_s": _median_s(lambda: _noop(clips.groupBy(ctx.part_col).count())),
        "sources.byte_scan_s": _median_s(lambda: _noop(clips.select("bytes"))),
        "payload.arrow_floor_s": _median_s(
            lambda: _noop(projection.mapInPandas(identity, projection.schema))),
        "payload.check_s": _median_s(lambda: _noop(payload.violations(tables, ctx))),
        "constraints.uniqueness_s": _median_s(violations(["uniqueness"])),
        "constraints.referential_s": _median_s(violations(["referential"])),
        "constraints.equality_s": _median_s(violations(["equality"])),
        "constraints.row_local_s": _median_s(violations(["domain", "range", "required"])),
        "drift.check_s": _median_s(
            lambda: [_noop(c.violations(tables, ctx)) for c in suite
                     if isinstance(c, DriftConstraint)]),
    }
    out.update(pcm_decode_rates())
    return out


def pcm_decode_rates() -> dict[str, float]:
    """`audio.pcm` batch decode throughput per codec, in MB of decoded PCM16
    per second, over a fixed in-memory sample (no Spark)."""
    from unify_spark.audio import pcm

    n_samples = PCM_SR // 10
    raw = pcm.synth_pcm16_batch(np.arange(PCM_ROWS), PCM_SR, n_samples)
    out = {}
    for codec in pcm.CODEC_DOMAIN:
        blobs = pcm.encode_batch(raw, codec)
        mb = raw.nbytes / 1e6
        wall = _median_s(lambda: pcm.decode_batch(blobs, codec))
        out[f"pcm.decode_mb_per_s.{codec}"] = mb / wall
    return out
