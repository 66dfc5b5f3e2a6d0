"""Multimodal column plumbing (north-star mandated).

Images/audio/video travel as opaque ``binary`` columns with typed
metadata structs; decode / feature-extract run as Arrow-batched
``mapInPandas`` stages. The decode kernel is REAL as of round 3: a
pure-stdlib PNG codec (functions/imagecodec.py — chunk walk, CRC
verify, zlib inflate, all-five-filter un-filtering) decodes actual
image bytes to pixels on the executors; ``to_image_table`` synthesizes
genuine PNG payloads deterministically so a DuckDB oracle can predict
the decoded geometry and pixel statistics by construction. The legacy
byte-arithmetic stub survives only as ``decode_media(real_decode=
False)`` for the text-payload media table (audio/video stand-ins,
where no stdlib decoder exists — those kernels remain pluggable).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..boundary import install

# binary payload + typed metadata: the at-rest layout for a media table
MEDIA_SCHEMA = (
    "doc_id long, media_type string, payload binary, "
    "meta struct<n_bytes: long, content_md5: string>"
)

DECODED_SCHEMA = (
    "doc_id long, media_type string, n_bytes long, "
    "fake_width int, fake_height int, feature_norm double"
)


def to_media_table(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Synthesize a media table from documents: payload = utf-8 bytes of
    the text (a stand-in for image bytes), metadata computed JVM-side."""
    payload = F.encode(F.col(text_col), "utf-8")
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.lit("image/fake").alias("media_type"),
        payload.alias("payload"),
        F.struct(
            F.length(payload).cast("long").alias("n_bytes"),
            F.md5(payload).alias("content_md5"),
        ).alias("meta"),
    )


# decoded-image schema for the REAL kernel: geometry + pixel stats
IMAGE_DECODED_SCHEMA = (
    "doc_id long, fmt string, width int, height int, "
    "n_pixels long, mean_pixel double"
)


def to_image_table(
    docs: DataFrame,
    id_col: str = "doc_id",
    content_col: str | None = None,
    entropic: bool = False,
) -> DataFrame:
    """Synthesize a media table of GENUINE PNG payloads, one per doc,
    encoded executor-side (mapInPandas — payload bytes never touch the
    driver). Geometry and pixels are deterministic in doc_id:

        width  = 4 + doc_id % 13        height = 3 + doc_id % 11
        pixel[i] = (doc_id*31 + i*7) % 256
        scanline filter = (doc_id + row) % 5   (all five PNG filters)

    so a SQL oracle can recompute the decoded geometry and mean pixel
    from first principles while the bytes on the wire are real PNGs
    (CRC-checked, zlib-compressed, filter-encoded).

    Probe-only knobs (the registered keys never set them):
    ``content_col`` derives the pixel content from a DIFFERENT column
    than the emitted doc_id (duplicate planting: two docs pointing at
    one content id are byte-identical images); ``entropic=True`` swaps
    the gradient formula for a per-content seeded PRNG raster
    (np.random.default_rng(cid)), so the distinct-image space scales
    with the number of distinct content ids instead of cycling every
    lcm(13, 11, 256) = 36,608 ids — the keyspace-scaled replica shape
    (VERDICT r10 item 2) that real image-corpus growth has."""
    from ..functions.imagecodec import encode_png_gray

    enc = encode_png_gray  # closure capture → ships by value
    cc = content_col or id_col

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        install()
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for did, cid in zip(pdf["doc_id"], pdf["__content_id"]):
                did, cid = int(did), int(cid)
                w, h = 4 + cid % 13, 3 + cid % 11
                if entropic:
                    import numpy as np

                    px = (
                        np.random.default_rng(cid & 0x7FFFFFFFFFFFFFFF)
                        .integers(0, 256, w * h, dtype=np.int64)
                        .astype(np.uint8)
                        .tobytes()
                    )
                else:
                    px = bytes((cid * 31 + i * 7) % 256 for i in range(w * h))
                payload = enc(w, h, px, filter_for_row=lambda y: (cid + y) % 5)
                rows.append((did, "image/png", payload))
            yield pd.DataFrame(rows, columns=["doc_id", "media_type", "payload"])

    from ..sources import spread_scan

    media = spread_scan(
        docs.select(
            F.col(id_col).alias("doc_id"), F.col(cc).alias("__content_id")
        ),
        "doc_id",
    ).mapInPandas(gen, "doc_id long, media_type string, payload binary")
    return media.select(
        "doc_id",
        "media_type",
        "payload",
        F.struct(
            F.length("payload").cast("long").alias("n_bytes"),
            F.md5("payload").alias("content_md5"),
        ).alias("meta"),
    )


def decode_image_media(media: DataFrame) -> DataFrame:
    """REAL Arrow-batched decode stage: each binary payload is parsed
    as an actual PNG — chunk walk with CRC verification, IDAT inflate,
    per-scanline un-filtering (all five filter types) — and reduced to
    geometry + pixel statistics. The header probe cross-checks the
    decoded dimensions (a mismatch raises: corrupt input must fail
    loudly, not emit plausible rows). mapInPandas keeps the work
    partition-local — at 100 TB decode is embarrassingly parallel scan
    work, no shuffle."""
    from ..functions.imagecodec import decode_png, probe_image

    dec, probe = decode_png, probe_image  # closures → ship by value

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        install()
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                data = bytes(payload)
                fmt, pw, ph = probe(data)
                w, h, px = dec(data)
                if (pw, ph) != (w, h):
                    raise ValueError(
                        f"doc {did}: header ({pw}x{ph}) != decoded ({w}x{h})"
                    )
                rows.append(
                    (
                        int(did),
                        fmt,
                        w,
                        h,
                        w * h,
                        round(sum(px) / (w * h), 6) if w * h else 0.0,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "fmt",
                    "width",
                    "height",
                    "n_pixels",
                    "mean_pixel",
                ],
            )

    return media.select("doc_id", "payload").mapInPandas(
        gen, IMAGE_DECODED_SCHEMA
    )


def decode_media(media: DataFrame, real_decode: bool = False) -> DataFrame:
    """Arrow-batched decode stage over the binary column.

    ``mapInPandas`` (not a scalar UDF) because decode is batch-oriented
    and may change cardinality (e.g. video frame sampling emits N rows
    per input). Partitioning is preserved — no shuffle; at 100 TB the
    decode cost is embarrassingly parallel scan work.

    ``real_decode=True`` routes to the REAL PNG kernel
    (``decode_image_media``; payloads must be PNG — pair with
    ``to_image_table``). The default stub path keeps the byte-
    arithmetic fake features for non-image payload stand-ins.

    IMPORTANT (worker serialization): every function shipped to Python
    workers in this repo is a CLOSURE so cloudpickle serializes it by
    value — a module-level kernel would pickle by reference and require
    ``import flink_kmeans_spark`` inside the worker, which only works
    when the driver's cwd happens to be the repo root (bug found by the
    plain-session full-gate replica).
    """
    if real_decode:
        return decode_image_media(media)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        install()
        import pandas as pd  # worker-side import; no repo imports here

        def stub_decode_batch(pdf: pd.DataFrame) -> pd.DataFrame:
            """STUB decode kernel — deterministic fake features from raw
            bytes. A real deployment replaces this body with e.g.
            PIL.Image.open over io.BytesIO(payload); the signature (one
            pandas batch in, one DECODED_SCHEMA batch out) is the
            production contract."""
            out = pd.DataFrame()
            out["doc_id"] = pdf["doc_id"]
            out["media_type"] = pdf["media_type"]
            payloads = pdf["payload"]
            out["n_bytes"] = payloads.map(len).astype("int64")
            # fake geometry: first bytes, deterministic
            out["fake_width"] = payloads.map(
                lambda b: 1 + b[0] if len(b) else 0
            ).astype("int32")
            out["fake_height"] = payloads.map(
                lambda b: 1 + b[-1] if len(b) else 0
            ).astype("int32")
            out["feature_norm"] = payloads.map(
                lambda b: float(sum(b[:64])) / 255.0 if len(b) else 0.0
            )
            return out

        for pdf in batches:
            if len(pdf):
                yield stub_decode_batch(pdf)

    return media.mapInPandas(gen, DECODED_SCHEMA)


def frame_sample(media: DataFrame, frames_per_doc: int = 3) -> DataFrame:
    """Frame-sampling shape: one input row → N frame rows (cardinality-
    changing mapInPandas, the video-pipeline pattern). Frames are stub
    byte-slices; offsets/indices are real plumbing."""
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        install()
        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for _, r in pdf.iterrows():
                b = r["payload"]
                step = max(len(b) // frames_per_doc, 1)
                for i in range(frames_per_doc):
                    chunk = b[i * step : (i + 1) * step]
                    rows.append((r["doc_id"], i, len(chunk)))
            yield pd.DataFrame(rows, columns=["doc_id", "frame_idx", "frame_bytes"])

    return media.mapInPandas(gen, "doc_id long, frame_idx int, frame_bytes long")


def resize_image_media(media: DataFrame, out_w: int = 3, out_h: int = 2) -> DataFrame:
    """REAL image RESIZE stage: decode each PNG payload (full CRC/
    inflate/un-filter pipeline) then nearest-neighbor downsample to
    (out_w × out_h) with the standard floor mapping
    src = px[((i·h)//out_h)·w + (j·w)//out_w] — the thumbnail /
    fixed-input-size preprocessing step of every vision pipeline.
    Emits the resized pixels themselves plus their mean, so the oracle
    verifies the actual resampled values, not just a summary.

    Scale shape: mapInPandas, partition-local, zero shuffle — at
    100 TB resize is embarrassingly parallel scan work stacked on the
    decode in the SAME Python worker pass (one Arrow round trip for
    decode+resize, not two)."""
    from ..functions.imagecodec import decode_png

    dec = decode_png  # closure → ships by value
    W2, H2 = out_w, out_h

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        install()
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, px = dec(bytes(payload))
                sample = [
                    int(px[((i * h) // H2) * w + (j * w) // W2])
                    for i in range(H2)
                    for j in range(W2)
                ]
                # string-encoded pixels: array-typed result columns defeat
                # the driver's order-insensitive value hash (ndarray cells)
                rows.append(
                    (
                        int(did),
                        w,
                        h,
                        W2,
                        H2,
                        ",".join(str(v) for v in sample),
                        round(sum(sample) / (W2 * H2), 6),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "src_w", "src_h", "out_w", "out_h",
                    "resized", "mean_resized",
                ],
            )

    return media.select("doc_id", "payload").mapInPandas(
        gen,
        "doc_id long, src_w int, src_h int, out_w int, out_h int, "
        "resized string, mean_resized double",
    )


def dhash_image_media(media: DataFrame, hash_w: int = 8, hash_h: int = 8) -> DataFrame:
    """PERCEPTUAL difference-hash (dHash) over decoded PNG pixels —
    the image near-dedup sketch byte-exact md5 can't provide (re-saves
    and resamples change bytes, not gradients): decode → NN-resample
    to (hash_w+1)×hash_h → per-row left<right gradient bits, emitted
    as a 64-char '0'/'1' string (portable — no 64-bit sign games in
    either engine) plus the popcount. Near-dup images differ in a few
    bits; banding the bit string then reuses the exact SimHash
    machinery (operators/dedup.py).

    Scale shape: mapInPandas, partition-local, zero shuffle — decode,
    resample, and hash run in ONE Python worker pass per batch."""
    from ..functions.imagecodec import decode_png

    dec = decode_png  # closure → ships by value
    HW, HH = hash_w, hash_h

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        install()
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, px = dec(bytes(payload))
                grid = [
                    int(px[((y * h) // HH) * w + (x * w) // (HW + 1)])
                    for y in range(HH)
                    for x in range(HW + 1)
                ]
                bits = [
                    1 if grid[y * (HW + 1) + x] < grid[y * (HW + 1) + x + 1] else 0
                    for y in range(HH)
                    for x in range(HW)
                ]
                rows.append(
                    (int(did), w, h, "".join(map(str, bits)), sum(bits))
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "src_w", "src_h", "dhash", "n_ones"]
            )

    return media.select("doc_id", "payload").mapInPandas(
        gen, "doc_id long, src_w int, src_h int, dhash string, n_ones int"
    )


def to_audio_table(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize a media table of GENUINE RIFF/WAVE payloads (PCM16
    mono, 8 kHz), one clip per doc, encoded executor-side. Length and
    samples are deterministic in doc_id:

        n_samples  = 800 + (doc_id % 7) * 160      (100-220 ms)
        samples[i] = (doc_id*131 + i*17) % 2003 - 1001

    so a SQL oracle can recompute duration/RMS/peak from first
    principles while the wire bytes are real WAV files (proper RIFF
    chunk structure, fmt validation on decode)."""
    from ..functions.audiocodec import encode_wav_pcm16

    enc = encode_wav_pcm16  # closure qualname → ships by value

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        install()
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                n = 800 + (did % 7) * 160
                samples = [((did * 131 + i * 17) % 2003) - 1001 for i in range(n)]
                rows.append((did, "audio/wav", enc(8000, samples)))
            yield pd.DataFrame(rows, columns=["doc_id", "media_type", "payload"])

    from ..sources import spread_scan

    return spread_scan(docs.select(F.col(id_col).alias("doc_id")), "doc_id").mapInPandas(
        gen, "doc_id long, media_type string, payload binary"
    )


def decode_audio_media(media: DataFrame) -> DataFrame:
    """REAL Arrow-batched audio decode: each binary payload is parsed
    as an actual RIFF/WAVE stream (magic + chunk walk + fmt
    validation, loud failure on corruption) and reduced to the
    clip-level features every audio curation pipeline starts from —
    duration, RMS energy, peak amplitude. mapInPandas keeps decode
    partition-local: at 100 TB it is embarrassingly parallel scan
    work, no shuffle."""
    import math

    from ..functions.audiocodec import decode_wav

    dec = decode_wav  # closure qualname → ships by value

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        install()
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                rate, smp = dec(bytes(payload))
                n = len(smp)
                rows.append(
                    (
                        int(did),
                        rate,
                        n,
                        n * 1000 // rate,
                        round(math.sqrt(sum(x * x for x in smp) / n), 4),
                        max(abs(x) for x in smp),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "sample_rate", "n_samples",
                    "duration_ms", "rms", "peak",
                ],
            )

    return media.select("doc_id", "payload").mapInPandas(
        gen,
        "doc_id long, sample_rate int, n_samples int, "
        "duration_ms int, rms double, peak int",
    )


def vad_audio_media(
    media: DataFrame, frame: int = 80, threshold: float = 578.0
) -> DataFrame:
    """Energy-based voice-activity detection over REAL decoded WAV
    payloads — the silence-trimming/segmentation pass an ASR-data
    pipeline runs before cutting clips: decode PCM16, window into
    ``frame``-sample frames, per-frame RMS, voiced = RMS > threshold,
    then merge adjacent voiced frames into segments. Per clip:
    n_frames, n_voiced, n_segments, voiced_ms. The default threshold
    sits at the uniform-noise RMS (max_amp/√3 ≈ 578 for ±1001
    fixtures) so the flag genuinely splits frames. Decode + framing +
    segmentation all happen inside one Arrow batch pass
    (mapInPandas) — embarrassingly parallel scan work, no shuffle."""
    import math

    from ..functions.audiocodec import decode_wav

    dec = decode_wav  # closure qualname → ships by value

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        install()
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                rate, smp = dec(bytes(payload))
                nf = len(smp) // frame
                voiced = []
                for f in range(nf):
                    seg = smp[f * frame : (f + 1) * frame]
                    rms = math.sqrt(sum(x * x for x in seg) / frame)
                    voiced.append(1 if rms > threshold else 0)
                n_voiced = sum(voiced)
                n_segments = sum(
                    1
                    for f in range(nf)
                    if voiced[f] == 1 and (f == 0 or voiced[f - 1] == 0)
                )
                rows.append(
                    (
                        int(did),
                        nf,
                        n_voiced,
                        n_segments,
                        n_voiced * frame * 1000 // rate,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_frames", "n_voiced", "n_segments", "voiced_ms",
                ],
            )

    return media.select("doc_id", "payload").mapInPandas(
        gen,
        "doc_id long, n_frames int, n_voiced int, n_segments int, voiced_ms int",
    )


def to_video_table(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize a media table of frame-archive 'videos': each doc
    becomes a STORED zip of genuine PNG frames (the WebDataset-shard
    shape real pipelines ship frame sequences in — a standard
    container, stdlib-parseable, seekable via its central directory).
    Deterministic in doc_id:

        n_frames    = 2 + doc_id % 4
        frame f px  = (doc_id*31 + f*97 + i*7) % 256   (w,h as images)

    Encoded executor-side; bytes never cross the driver."""
    import io
    import zipfile

    from ..functions.imagecodec import encode_png_gray

    enc = encode_png_gray

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        install()
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 4 + did % 13, 3 + did % 11
                buf = io.BytesIO()
                with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as zf:
                    for f in range(2 + did % 4):
                        px = bytes(
                            (did * 31 + f * 97 + i * 7) % 256 for i in range(w * h)
                        )
                        zf.writestr(f"frame_{f:03d}.png", enc(w, h, px))
                rows.append((did, "video/frames+zip", buf.getvalue()))
            yield pd.DataFrame(rows, columns=["doc_id", "media_type", "payload"])

    from ..sources import spread_scan

    return spread_scan(docs.select(F.col(id_col).alias("doc_id")), "doc_id").mapInPandas(
        gen, "doc_id long, media_type string, payload binary"
    )


def framesample_video_media(media: DataFrame, stride: int = 2) -> DataFrame:
    """REAL frame sampling over frame-archive videos: parse the zip
    central directory (metadata-only — the container equivalent of a
    video keyframe index), select every ``stride``-th frame, and
    fully PNG-decode ONLY the selected frames — the seek-then-decode
    economics of real video sampling (unsampled frames' bytes are
    never inflated). 1→N cardinality change, partition-local.
    Loud failure on corrupt containers/frames (zipfile + PNG CRC)."""
    import io
    import zipfile

    from ..functions.imagecodec import decode_png

    dec = decode_png

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        install()
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                with zipfile.ZipFile(io.BytesIO(bytes(payload))) as zf:
                    names = sorted(zf.namelist())
                    for f in range(0, len(names), stride):
                        w, h, px = dec(zf.read(names[f]))
                        rows.append(
                            (
                                int(did),
                                len(names),
                                f,
                                w,
                                h,
                                round(sum(px) / (w * h), 6),
                            )
                        )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_frames", "frame_idx",
                    "width", "height", "mean_pixel",
                ],
            )

    return media.select("doc_id", "payload").mapInPandas(
        gen,
        "doc_id long, n_frames int, frame_idx int, "
        "width int, height int, mean_pixel double",
    )

def spectrogram_audio_media(media: DataFrame, bins=(1, 2, 3)) -> DataFrame:
    """Frequency-domain features over REAL decoded WAV payloads: a
    single-frame DFT at ``bins`` discrete frequencies per clip —
    X_k = Σ s_i·e^(-j2πki/N), emitted as log10 band energy — the
    fingerprint/feature step audio curation runs after VAD (full
    mel-spectrograms are this kernel batched over frames). numpy does
    the trig vectorized inside one Arrow batch pass; embarrassingly
    parallel scan work, no shuffle, O(N·|bins|) per clip."""
    import numpy as np

    from ..functions.audiocodec import decode_wav

    dec = decode_wav  # closure qualname → ships by value
    ks = tuple(int(k) for k in bins)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        install()
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                _, smp = dec(bytes(payload))
                n = len(smp)
                v = np.asarray(smp, dtype=np.float64)
                i = np.arange(n, dtype=np.float64)
                for k in ks:
                    ang = ((2 * np.pi * k) * i) / n
                    re = float((v * np.cos(ang)).sum())
                    im = float((v * np.sin(ang)).sum())
                    rows.append(
                        (int(did), k, round(np.log10(re * re + im * im + 1.0), 4))
                    )
            yield pd.DataFrame(rows, columns=["doc_id", "k", "log_energy"])

    return media.select("doc_id", "payload").mapInPandas(
        gen, "doc_id long, k int, log_energy double"
    )
