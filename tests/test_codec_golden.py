"""The codec golden row (plans/codec_check.py + plans/codec_golden.py):
the committed fixture corpus decodes to exactly the frozen fingerprints,
and the fingerprint is sensitive — a one-byte payload change flips it.

This is the pytest twin of the driver-side check (the `codec` section of
`multimodal_frame_features`); the driver verifies via DuckDB hash-match,
this verifies the same rows in-process and adds the sensitivity control
the driver can't run.
"""

from __future__ import annotations

import os

import duckdb

from youtube_api_data_etl_automation_spark.plans.codec_check import (
    CODEC_FIXTURE_PATH,
    codec_stats,
)


def test_fixture_is_committed_and_covers_all_families():
    assert os.path.exists(CODEC_FIXTURE_PATH), (
        "fixture missing — run tools/make_codec_fixture.py"
    )
    con = duckdb.connect()
    fams = dict(
        con.execute(
            "SELECT family, count(*) FROM read_parquet(?) GROUP BY 1",
            [CODEC_FIXTURE_PATH],
        ).fetchall()
    )
    assert set(fams) == {"image", "audio", "image_meta", "video_meta",
                         "audio_meta", "image_exif", "audio_tags",
                         "video_frame", "audio_subband", "archive",
                         "warc_records", "document", "document_meta",
                         "image_hash", "exif_strip", "office",
                         "image_thumb", "subtitle", "document_images",
                         "image_pages", "office_pptx", "office_xlsx",
                         "office_odf", "document_epub", "mail_eml",
                         "document_rtf", "document_latex",
                         "document_ipynb", "document_markdown"}
    assert fams["image_exif"] == 8 and fams["audio_tags"] == 6
    # the decode matrix: 6 PNG variants + 4 JPEG + GIF/BMP/PPM +
    # 2 VP8L WebP + 10 TIFF (LZW/deflate/palette/tiled + JPEG-in-TIFF,
    # r11; CCITT G4 + MH, r13) + 3 BMP (palette/RLE8/32-bit, r11) +
    # PGM + PBM + a standalone JBIG2 file (r14) + 2 refusals
    assert fams["image"] == 34
    # PCM 8/16/24/32 + float 32/64 + G.711 ×2 + IMA + MS +
    # 2 FLAC (r10) + 3 refusals
    assert fams["audio"] == 15
    # MP4 ×3 (incl. stsz) + MKV ×2 + AVI + APNG + PNG + GIF ×2 + 3 refusals / MP3 ×3 + FLAC + WAV +
    # OGG ×2 + 3 refusals
    assert fams["video_meta"] == 14 and fams["audio_meta"] == 10
    # MJPEG x2 + GIF + 2 refusals / Layer I x3 + Layer II x3 (r12)
    # + 2 refusals
    assert fams["video_frame"] == 5 and fams["audio_subband"] == 10
    # gzip/zip/tar/WARC probes + refusal + bz2/xz (late r14) / plain + per-record-gz + cut
    assert fams["archive"] == 7 and fams["warc_records"] == 3
    # PDF text: escapes + flate 2-page + ToUnicode + ObjStm/LZW +
    # a85-chain/inline-image + 3 refusals; probe: 2-page/encrypted/cut
    assert fams["document"] == 8 and fams["document_meta"] == 4
    # perceptual hashes: PNG + same-pixels BMP + JPEG + GIF + refusal
    assert fams["image_hash"] == 5
    # privacy scrub: jpeg APP1 + png eXIf + passthrough + 2 refusals
    assert fams["exif_strip"] == 5
    # docx runs/entities/breaks + legacy .doc + zip-without-document
    assert fams["office"] == 3
    # thumbnails: PNG + same-pixels BMP (identical md5) + JPEG + corrupt
    assert fams["image_thumb"] == 4
    # captions: SRT + tag-stripped VTT + plain-text + backwards-cue
    assert fams["subtitle"] == 4
    # pdf images (r12): flate+dct pair + indexed + form-nested +
    # jpx-refusal + truncated-corrupt + zero-image + CMYK + the r13
    # CCITT G4 + K>0-refusal pair + the r14 JBIG2 MMR/arith pair
    assert fams["document_images"] == 9
    # multi-page TIFF (r14): 3-page corrupt-middle + G4/MH pair +
    # corrupt container
    assert fams["image_pages"] == 3
    # pptx/xlsx (r14): one real deck/workbook + one refusal each
    assert fams["office_pptx"] == 2 and fams["office_xlsx"] == 2
    # OpenDocument (r14): odt + ods + a content-less-zip refusal
    assert fams["office_odf"] == 3
    # EPUB (r14): a 2-chapter book + a container-less-zip refusal
    assert fams["document_epub"] == 2
    # mail (r14): a MIME alternative+attachment message + a
    # headerless-bytes refusal
    assert fams["mail_eml"] == 2
    # RTF (r14): escapes/destinations doc + an unbalanced refusal
    assert fams["document_rtf"] == 2
    # LaTeX (late r14): math/env/accents doc + unterminated math +
    # plain-prose (both corrupt)
    assert fams["document_latex"] == 3
    # ipynb (late r14): v4 + v3-worksheets + not-JSON corrupt +
    # future-nbformat unsupported
    assert fams["document_ipynb"] == 4
    # markdown (late r14): a construct-rich README + the empty payload
    # (the only refusal a magic-less text format has)
    assert fams["document_markdown"] == 2


def test_codec_stats_match_golden(spark):
    """Every fixture payload's decode/probe fingerprint equals the frozen
    golden value — the same comparison the driver's hash-match makes."""
    from youtube_api_data_etl_automation_spark.plans.codec_golden import (
        CODEC_GOLDEN_SQL,
    )

    got = sorted(
        (r.doc_id, r.fmt, r.width, r.height, r.fp)
        for r in codec_stats(spark).collect()
    )
    want = sorted(
        (int(d), f, None if w is None else int(w),
         None if h is None else int(h), fp)
        for d, f, w, h, fp in duckdb.connect()
        .execute(CODEC_GOLDEN_SQL).fetchall()
    )
    assert got == want


def test_codec_fingerprint_is_sensitive(spark, tmp_path):
    """Negative control: corrupting one pixel byte of the BMP payload
    changes its fingerprint — the golden row would catch a decoder that
    starts returning wrong pixels, not just one that crashes."""
    import pyarrow.parquet as pq_mod

    table = pq_mod.read_table(CODEC_FIXTURE_PATH)
    rows = table.to_pylist()
    bmp = next(r for r in rows if r["name"] == "bmp24")
    golden_fp = {
        r.doc_id: r.fp for r in codec_stats(spark).collect()
    }[bmp["payload_id"]]

    payload = bytearray(bmp["payload"])
    # last PIXEL byte: the 3x2 BMP has 12-byte strides with 3 padding
    # bytes per row, so [-1..-3] are padding — flip [-4] instead
    payload[-4] ^= 0xFF
    import pyarrow as pa

    mut = pa.table(
        {
            "payload_id": [bmp["payload_id"]],
            "family": ["image"],
            "name": ["bmp24_mutated"],
            "payload": [bytes(payload)],
        },
        schema=table.schema,
    )
    mut_path = str(tmp_path / "mut.parquet")
    pq_mod.write_table(mut, mut_path)

    import youtube_api_data_etl_automation_spark.plans.codec_check as cc

    orig = cc.CODEC_FIXTURE_PATH
    cc.CODEC_FIXTURE_PATH = mut_path
    try:
        mut_fp = codec_stats(spark).collect()[0].fp
    finally:
        cc.CODEC_FIXTURE_PATH = orig
    assert mut_fp != golden_fp


def test_golden_regeneration_is_deterministic():
    """Rebuilding the payloads yields byte-identical content (ids, names,
    payload bytes) — the fixture can always be regenerated from source."""
    import sys

    sys.path.insert(0, "tools")
    sys.path.insert(0, "tests")
    from make_codec_fixture import build_payloads

    rows = build_payloads()
    con = duckdb.connect()
    committed = con.execute(
        "SELECT payload_id, family, name, payload FROM read_parquet(?) "
        "ORDER BY payload_id",
        [CODEC_FIXTURE_PATH],
    ).fetchall()
    rebuilt = sorted(rows)
    assert len(committed) == len(rebuilt)
    for (cid, cf, cn, cp), (rid, rf, rn, rp) in zip(committed, rebuilt):
        assert (cid, cf, cn) == (rid, rf, rn)
        assert bytes(cp) == rp, f"payload drift for {cn}"


def test_codec_stats_from_foreign_cwd():
    """The driver harness makes no PYTHONPATH/cwd promise; the decode
    closures are pickled by module reference, so workers must import the
    package via session.ship_package's addPyFile zip. Regression: run
    the codec query from /tmp in a bare subprocess session — without
    ship_package this dies with ModuleNotFoundError in the worker."""
    import subprocess
    import sys

    script = (
        "import sys; sys.path.insert(0, '/root/repo')\n"
        "from pyspark.sql import SparkSession\n"
        "spark = (SparkSession.builder.master('local[4]')\n"
        "         .config('spark.ui.enabled', 'false').getOrCreate())\n"
        "from youtube_api_data_etl_automation_spark.plans.codec_check "
        "import codec_stats\n"
        "print('CODEC_ROWS=%d' % codec_stats(spark).count())\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", script], cwd="/tmp", capture_output=True,
        text=True, timeout=300,
        env={k: v for k, v in __import__("os").environ.items()
             if k != "PYTHONPATH"},
    )
    assert "CODEC_ROWS=189" in out.stdout, out.stderr[-2000:]
