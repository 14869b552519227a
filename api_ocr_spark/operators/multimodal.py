"""Multimodal binary-column operators for training-data pipelines.

Media are opaque `binary` columns + typed metadata structs; all per-item work
runs in Arrow-batched mapInPandas stages (never per-row Python UDFs).

`image_metadata` decodes PNG/JPEG payloads with the engine's own codecs and
extracts cheap content features; an unparseable payload becomes a
quarantine row (width = height = -1, format 'unknown') instead of failing
the stage.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

IMAGE_META_SCHEMA = (
    "media_ref string, width int, height int, n_bytes long, format string, "
    "ink_ratio double, mean_intensity double"
)


def image_metadata(media: DataFrame) -> DataFrame:
    """(media_ref, bytes) → typed metadata + cheap content features
    (decode is real: the engine PNG codec)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..imaging import png as png_codec
        from ..kernels import enhance

        for pdf in batches:
            out = {k: [] for k in ("media_ref", "width", "height", "n_bytes",
                                   "format", "ink_ratio", "mean_intensity")}
            for ref, data in zip(pdf["media_ref"], pdf["bytes"]):
                raw = bytes(data)
                out["media_ref"].append(ref)
                out["n_bytes"].append(len(raw))
                try:
                    img = png_codec.decode_gray_auto(raw)
                    binary = enhance.binarize_otsu(img)
                    out["width"].append(int(img.shape[1]))
                    out["height"].append(int(img.shape[0]))
                    out["format"].append("jpeg" if raw[:2] == b"\xff\xd8" else "png")
                    out["ink_ratio"].append(round(float((binary > 0).mean()), 6))
                    out["mean_intensity"].append(round(float(img.mean()), 4))
                except Exception:  # noqa: BLE001 — quarantine-style row
                    out["width"].append(-1)
                    out["height"].append(-1)
                    out["format"].append("unknown")
                    out["ink_ratio"].append(0.0)
                    out["mean_intensity"].append(0.0)
            yield pd.DataFrame(out)

    return media.select("media_ref", "bytes").mapInPandas(gen, schema=IMAGE_META_SCHEMA)
