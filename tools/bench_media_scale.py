"""Media-decode throughput at corpus scale — the pure-numpy codecs
(JPEG Huffman+DCT, GIF LZW, PNG DEFLATE, G.711, MJPEG-AVI) running
through the real mapInPandas kernels at N blobs per format.

Per-blob work with zero shuffle: the scan partitions the doc ids, each
task synthesizes its blobs (same closed-form fixtures the oracle rows
use) and decodes them back, so the number measures decode CPU, Arrow
batch transfer, and kernel dispatch — the exact cost profile a
100 TB crawl's media columns would have. Ground truth is asserted
per-format on a deterministic sample before timing is trusted.

Usage: BENCH_MEDIA_BLOBS=100000 python tools/bench_media_scale.py
Prints one JSON line; record in BENCH.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pandas as pd

from lambdo_spark.session import get_spark, host_resources

N = int(os.environ.get("BENCH_MEDIA_BLOBS", "100000"))


def _jpeg_kernel(batches):
    from lambdo_spark.functions.jpeg import encode_jpeg
    from lambdo_spark.functions.multimodal import decode_image

    subs = ("444", "422", "420")
    for b in batches:
        sums = []
        for d in b["id"]:
            d = int(d)
            w, h = 24 + d % 9, 18 + d % 7
            rgb = ((d * 13) % 256, (d * 29) % 256, (d * 53) % 256)
            img = np.full((h, w, 3), rgb, dtype=np.uint8)
            blob = encode_jpeg(img, quality=50 + d % 46, subsampling=subs[d % 3])
            sums.append(int(decode_image(blob).astype(np.int64).sum()))
        yield pd.DataFrame({"id": b["id"], "s": sums})


def _gif_kernel(batches):
    from lambdo_spark.functions.gif import decode_gif, encode_gif

    for b in batches:
        sums = []
        for d in b["id"]:
            d = int(d)
            w, h, ncol = 24 + d % 7, 18 + d % 5, 4 + d % 5
            cs = np.arange(ncol, dtype=np.int64)
            pal = np.stack(
                [(d * 7 + cs * 31) % 256, (d * 11 + cs * 59) % 256,
                 (d * 23 + cs * 83) % 256], axis=1).astype(np.uint8)
            xs, ys = np.arange(w), np.arange(h)
            f = ((3 * xs[None, :] + 5 * ys[:, None] + d) % ncol).astype(np.uint8)
            blob = encode_gif([f], pal, interlace=bool(d % 2))
            sums.append(int(decode_gif(blob).astype(np.int64).sum()))
        yield pd.DataFrame({"id": b["id"], "s": sums})


def _png_kernel(batches):
    from lambdo_spark.functions.multimodal import decode_image, encode_png

    for b in batches:
        sums = []
        for d in b["id"]:
            d = int(d)
            w, h = 24 + d % 6, 18 + d % 5
            n = w * h * 3
            pix = ((d * 11 + np.arange(n, dtype=np.int64) * 19) % 256).astype(
                np.uint8).reshape(h, w, 3)
            blob = encode_png(pix, filter_type="mixed")
            sums.append(int(decode_image(blob).astype(np.int64).sum()))
        yield pd.DataFrame({"id": b["id"], "s": sums})


def _g711_kernel(batches):
    from lambdo_spark.functions.multimodal import decode_wav, encode_wav_g711

    for b in batches:
        sums = []
        for d in b["id"]:
            d = int(d)
            n = 400 + d % 250
            law = "mulaw" if d % 2 == 0 else "alaw"
            pay = ((d * 3 + np.arange(n, dtype=np.int64) * 7) % 256).astype(
                np.uint8)
            _, _, fr = decode_wav(encode_wav_g711(pay, 8000, law))
            sums.append(int(np.abs(fr.astype(np.int64)).sum()))
        yield pd.DataFrame({"id": b["id"], "s": sums})


def _mjpeg_kernel(batches):
    from lambdo_spark.functions.multimodal import decode_video, encode_avi_rgb

    for b in batches:
        sums = []
        for d in b["id"]:
            d = int(d)
            nf, w, h = 2 + d % 3, 16 + d % 4, 12 + d % 3
            rgb = ((d * 17) % 256, (d * 31) % 256, (d * 47) % 256)
            fr = np.full((nf, h, w, 3), rgb, dtype=np.uint8)
            blob = encode_avi_rgb(fr, codec="mjpeg", quality=60 + d % 36)
            sums.append(int(decode_video(blob).astype(np.int64).sum()))
        yield pd.DataFrame({"id": b["id"], "s": sums})


KERNELS = {
    "jpeg": _jpeg_kernel,
    "gif": _gif_kernel,
    "png": _png_kernel,
    "g711_wav": _g711_kernel,
    "mjpeg_avi": _mjpeg_kernel,
}


# ---- closed-form expected sums, ported from the oracle SQL of the
# ---- image_decode_* / audio_features_g711 / video_features_mjpeg
# ---- driver rows — derived from the FORMULAS, never from the codecs,
# ---- so a wrong decode cannot satisfy its own ground-truth gate.

def _jpeg_const_decode(r: int, g: int, b: int, q: int) -> tuple[int, int, int]:
    """Decoded (r,g,b) of a constant-color baseline JPEG: the DC basis
    term is exact (S00 = 8*(v-128), half-up quantize, dequantize) so
    the whole decode collapses to this closed form (same formula the
    image_decode_jpeg oracle SQL states)."""
    import math

    qy = min(max((16 * (200 - 2 * q) + 50) // 100, 1), 255)
    qc = min(max((17 * (200 - 2 * q) + 50) // 100, 1), 255)
    y = min(max(math.floor(0.299 * r + 0.587 * g + 0.114 * b + 0.5), 0), 255)
    cb = min(max(math.floor(
        -0.168735892 * r - 0.331264108 * g + 0.5 * b + 128.0 + 0.5), 0), 255)
    cr = min(max(math.floor(
        0.5 * r - 0.418687589 * g - 0.081312411 * b + 128.0 + 0.5), 0), 255)

    def rt(v, qq):
        return min(max(math.floor(
            math.floor((8 * (v - 128)) / qq + 0.5) * qq / 8.0 + 128.0 + 0.5
        ), 0), 255)

    y2, cb2, cr2 = rt(y, qy), rt(cb, qc), rt(cr, qc)
    r2 = min(max(math.floor(y2 + 1.402 * (cr2 - 128) + 0.5), 0), 255)
    g2 = min(max(math.floor(
        y2 - 0.344136286 * (cb2 - 128) - 0.714136286 * (cr2 - 128) + 0.5
    ), 0), 255)
    b2 = min(max(math.floor(y2 + 1.772 * (cb2 - 128) + 0.5), 0), 255)
    return r2, g2, b2


def _expect_jpeg(d: int) -> int:
    w, h = 24 + d % 9, 18 + d % 7
    r2, g2, b2 = _jpeg_const_decode(
        (d * 13) % 256, (d * 29) % 256, (d * 53) % 256, 50 + d % 46
    )
    return (r2 + g2 + b2) * w * h


def _expect_gif(d: int) -> int:
    w, h, ncol = 24 + d % 7, 18 + d % 5, 4 + d % 5
    cs = np.arange(ncol, dtype=np.int64)
    pal_sum = (
        (d * 7 + cs * 31) % 256 + (d * 11 + cs * 59) % 256
        + (d * 23 + cs * 83) % 256
    )
    xs, ys = np.arange(w), np.arange(h)
    f = (3 * xs[None, :] + 5 * ys[:, None] + d) % ncol
    return int(pal_sum[f].sum())


def _expect_png(d: int) -> int:
    w, h = 24 + d % 6, 18 + d % 5
    n = w * h * 3
    return int(((d * 11 + np.arange(n, dtype=np.int64) * 19) % 256).sum())


def _expect_g711(d: int) -> int:
    n = 400 + d % 250
    u = (d * 3 + np.arange(n, dtype=np.int64) * 7) % 256
    if d % 2 == 0:  # mu-law
        a = 255 - u
        m, e = a % 16, (a // 16) % 8
        mag = ((m * 8 + 132) << e) - 132
    else:  # A-law
        a = u ^ 85
        m, e = a % 16, (a // 16) % 8
        mag = np.where(
            e == 0, m * 16 + 8,
            np.where(e == 1, m * 16 + 264, (m * 16 + 264) << np.maximum(e - 1, 0)),
        )
    return int(mag.sum())  # kernel sums |sample| and |±mag| == mag


def _expect_mjpeg(d: int) -> int:
    nf, w, h = 2 + d % 3, 16 + d % 4, 12 + d % 3
    r2, g2, b2 = _jpeg_const_decode(
        (d * 17) % 256, (d * 31) % 256, (d * 47) % 256, 60 + d % 36
    )
    return (r2 + g2 + b2) * w * h * nf


EXPECTED = {
    "jpeg": _expect_jpeg,
    "gif": _expect_gif,
    "png": _expect_png,
    "g711_wav": _expect_g711,
    "mjpeg_avi": _expect_mjpeg,
}


def main() -> None:
    cpus, _ = host_resources()
    spark = get_spark(app_name="bench_media_scale", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    # warm the python workers so the first timed kernel isn't paying fork cost
    spark.range(0, int(cpus) * 4, numPartitions=int(cpus) * 4).mapInPandas(
        lambda it: it, schema="id long"
    ).count()

    # ground truth on a local sample before trusting any wall clock:
    # every decoded sum must equal its closed-form EXPECTED value
    # (ported from the oracle SQL formulas, independent of the codecs)
    ids = pd.DataFrame({"id": np.arange(64, dtype=np.int64)})
    for name, k in KERNELS.items():
        out = pd.concat(list(k(iter([ids])))).set_index("id")["s"]
        exp = EXPECTED[name]
        for d in range(64):
            assert out[d] == exp(d), (name, d, int(out[d]), exp(d))

    # and the full-N checksum is pinned too, so the TIMED run itself
    # is correctness-verified (expected sums computed outside timing)
    full_expected = {
        name: sum(exp(d) for d in range(N)) for name, exp in EXPECTED.items()
    }

    base = spark.range(0, N, numPartitions=int(cpus) * 4)
    walls, blob_rate = {}, {}
    for name, k in KERNELS.items():
        df = base.mapInPandas(k, schema="id long, s long")
        t0 = time.time()
        got = df.selectExpr("count(*) AS n", "sum(s) AS checksum").collect()[0]
        walls[name] = round(time.time() - t0, 3)
        assert got["n"] == N, (name, got["n"])
        assert got["checksum"] == full_expected[name], (
            name, got["checksum"], full_expected[name])
        blob_rate[name] = int(N / walls[name])
        print(f"{name}: {walls[name]}s  {blob_rate[name]} blobs/s  "
              f"checksum={got['checksum']}", file=sys.stderr)
    print(json.dumps({
        "metric": "media_decode_scale",
        "blobs": N,
        "cpus": cpus,
        "walls_sec": walls,
        "blobs_per_sec": blob_rate,
    }))


if __name__ == "__main__":
    main()
