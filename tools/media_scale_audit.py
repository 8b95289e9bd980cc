"""Decade scaling audit for the MEDIA surface over a payload-bearing table.

The codec-golden registry row is sf-independent by design (fixed 91-row
fixture), so the generic tools/scale_audit.py cannot observe how the
decode/probe/triage operators scale with PAYLOAD COUNT. This tool
builds two deterministic payload tables — the committed codec fixture
replicated R and 10R times with shifted doc_ids (payload bytes
identical, so per-row decode cost is constant and the honest expectation
is time ∝ rows) — and times each media operator at both scales,
min-of-3 after a warm-up, bench.py methodology.

Usage:
    python tools/media_scale_audit.py [R_SMALL] [FACTOR]

Defaults R_SMALL=100, FACTOR=10. Prints one JSON line per run; record
the table in SCALE.md. A ratio near FACTOR = linear scaling; materially
above it = a super-linear term to root-cause.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from youtube_api_data_etl_automation_spark.plans.codec_check import (
    CODEC_FIXTURE_PATH,
)
from youtube_api_data_etl_automation_spark.session import get_spark, ship_package


def _build(dst: str, replicas: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = pq.read_table(CODEC_FIXTURE_PATH)
    ids = src.column("payload_id").to_pylist()
    fams = src.column("family").to_pylist()
    names = src.column("name").to_pylist()
    payloads = src.column("payload").to_pylist()
    n = len(ids)
    out_ids, out_fams, out_names, out_pay = [], [], [], []
    for i in range(replicas):
        shift = i * 10_000
        out_ids.extend(pid + shift for pid in ids)
        out_fams.extend(fams)
        out_names.extend(names)
        out_pay.extend(payloads)
    tbl = pa.table({
        "payload_id": pa.array(out_ids, pa.int64()),
        "family": pa.array(out_fams, pa.string()),
        "name": pa.array(out_names, pa.string()),
        "payload": pa.array(out_pay, pa.binary()),
    })
    os.makedirs(dst, exist_ok=True)
    pq.write_table(tbl, os.path.join(dst, "payloads.parquet"))
    del n


def _ops():
    from pyspark.sql import functions as F

    from youtube_api_data_etl_automation_spark.operators.mediameta import (
        audio_meta,
        image_meta,
        triage_decode_images,
        video_keyframe_features,
        video_meta,
    )
    from youtube_api_data_etl_automation_spark.operators.multimodal import (
        audio_subband_features,
        decode_audio,
        decode_image,
    )
    from youtube_api_data_etl_automation_spark.operators.archives import (
        archive_members,
        docx_text,
        members_as_payloads,
        warc_records,
    )
    from youtube_api_data_etl_automation_spark.operators.subtitles import (
        subtitles_text,
    )
    from youtube_api_data_etl_automation_spark.operators.imagehash import (
        image_hashes,
    )
    from youtube_api_data_etl_automation_spark.operators.mediameta import (
        strip_exif,
    )
    from youtube_api_data_etl_automation_spark.operators.pdf import (
        pdf_images,
        pdf_meta,
        pdf_text,
    )

    def fam(df, *fams):
        return df.filter(F.col("family").isin(*fams)).select(
            F.col("payload_id").alias("doc_id"), "payload"
        )

    return {
        "decode_image": lambda df: decode_image(fam(df, "image")),
        "decode_audio": lambda df: decode_audio(fam(df, "audio")),
        "image_meta": lambda df: image_meta(fam(df, "image", "image_meta")),
        "video_meta": lambda df: video_meta(fam(df, "video_meta")),
        "audio_meta": lambda df: audio_meta(fam(df, "audio_meta")),
        "triage_decode_images": lambda df: triage_decode_images(
            fam(df, "image", "image_meta")),
        "video_keyframe_features": lambda df: video_keyframe_features(
            fam(df, "video_frame")),
        "audio_subband_features": lambda df: audio_subband_features(
            fam(df, "audio_subband")),
        "pdf_text": lambda df: pdf_text(fam(df, "document")),
        "pdf_meta": lambda df: pdf_meta(fam(df, "document", "document_meta")),
        "image_hashes": lambda df: image_hashes(fam(df, "image", "image_hash")),
        "strip_exif": lambda df: strip_exif(
            fam(df, "image_exif", "exif_strip")),
        "docx_text": lambda df: docx_text(fam(df, "office")),
        "archive_members": lambda df: archive_members(fam(df, "archive")),
        # r12 additions (VERDICT r11 item 5): the remaining crawl-front
        # operators + the archive->decoder composition
        "warc_records": lambda df: warc_records(fam(df, "warc_records")),
        "subtitles_text": lambda df: subtitles_text(fam(df, "subtitle")),
        "members_to_decode": lambda df: decode_image(
            members_as_payloads(
                archive_members(fam(df, "archive")))),
        "pdf_images": lambda df: pdf_images(
            fam(df, "document", "document_images")),
    }


def main() -> None:
    r_small = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    factor = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    small_dir = f"/tmp/media_scale_small_r{r_small}"
    big_dir = f"/tmp/media_scale_big_r{r_small * factor}"
    for dst, reps in ((small_dir, r_small), (big_dir, r_small * factor)):
        if not os.path.exists(os.path.join(dst, "payloads.parquet")):
            _build(dst, reps)

    spark = get_spark("media-scale-audit")
    ship_package(spark)
    out: dict[str, dict] = {}
    for name, op in _ops().items():
        timings = {}
        for label, d in (("small", small_dir), ("big", big_dir)):
            df = spark.read.parquet(os.path.join(d, "payloads.parquet"))
            plan = op(df)
            plan.write.mode("overwrite").format("noop").save()  # warm-up
            best = float("inf")
            for _ in range(3):
                t0 = time.perf_counter()
                op(spark.read.parquet(
                    os.path.join(d, "payloads.parquet"))
                   ).write.mode("overwrite").format("noop").save()
                best = min(best, time.perf_counter() - t0)
            timings[label] = round(best, 3)
        timings["ratio"] = round(timings["big"] / timings["small"], 2)
        out[name] = timings
        print(f"  {name}: {timings}", file=sys.stderr)
    print(json.dumps({"r_small": r_small, "factor": factor, "ops": out}))


if __name__ == "__main__":
    main()
