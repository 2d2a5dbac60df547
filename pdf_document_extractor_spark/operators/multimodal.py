"""Multimodal column plumbing: opaque binary media + typed metadata.

Two Arrow-batched operators, one per registry query:

- ``media_metadata`` (``mm_media_metadata``): typed metadata decode of a
  binary media column holding the fake deterministic containers below,
  so the oracle can verify the Spark plumbing (schema, Arrow batch shape,
  UDF signature) exactly.
- ``render_figures`` (``mm_figure_render``): the M11 figure image render
  over PDF pages, stdlib-only (core/pdf_extract.render_figure_images,
  core/png_codec.py).

Fake deterministic containers:

  FIMG1 | width:u16be | height:u16be | channels:u8 | payload bytes
  FAUD1 | sample_rate:u32be | n_samples:u32be | payload bytes
"""

from __future__ import annotations

import struct
from collections.abc import Iterator
from typing import TYPE_CHECKING

import pandas as pd

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

IMG_MAGIC = b"FIMG1"
AUD_MAGIC = b"FAUD1"

IMG_META_SCHEMA = (
    "doc_id long, kind string, width long, height long, channels long, "
    "payload_bytes long, valid boolean"
)


def encode_fake_image(width: int, height: int, channels: int = 3) -> bytes:
    payload = bytes((width * height) % 251 for _ in range(16))
    return IMG_MAGIC + struct.pack(">HHB", width, height, channels) + payload


def encode_fake_audio(sample_rate: int, n_samples: int) -> bytes:
    return AUD_MAGIC + struct.pack(">II", sample_rate, n_samples) + b"\x00" * 8


def decode_media_meta(doc_id: int, blob: bytes) -> dict:
    """Pure metadata decode of the fake container (the UDF body)."""
    if blob[:5] == IMG_MAGIC and len(blob) >= 10:
        w, h, c = struct.unpack(">HHB", blob[5:10])
        return {
            "doc_id": doc_id,
            "kind": "image",
            "width": w,
            "height": h,
            "channels": c,
            "payload_bytes": len(blob) - 10,
            "valid": True,
        }
    if blob[:5] == AUD_MAGIC and len(blob) >= 13:
        sr, ns = struct.unpack(">II", blob[5:13])
        return {
            "doc_id": doc_id,
            "kind": "audio",
            "width": sr,  # sample_rate rides in width for a uniform schema
            "height": ns,
            "channels": 1,
            "payload_bytes": len(blob) - 13,
            "valid": True,
        }
    return {
        "doc_id": doc_id,
        "kind": "unknown",
        "width": 0,
        "height": 0,
        "channels": 0,
        "payload_bytes": len(blob),
        "valid": False,
    }


def media_metadata(df: "DataFrame", id_col: str = "doc_id",
                   blob_col: str = "media") -> "DataFrame":
    """Arrow-batched metadata extraction over a binary media column."""

    def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = [
                decode_media_meta(int(i), b or b"")
                for i, b in zip(
                    batch[id_col].to_numpy(), batch[blob_col].to_numpy()
                )
            ]
            yield pd.DataFrame(rows)

    return df.select(id_col, blob_col).mapInPandas(
        batch_fn, schema=IMG_META_SCHEMA
    )


FIGURE_IMAGE_SCHEMA = (
    "url string, figure_id string, page_number int, image_format string, "
    "width long, height long, image binary"
)


def render_figures(pages: "DataFrame") -> "DataFrame":
    """M11 figure image render as a Spark operator (reference
    asset_storage_service.py:643-658 exports figure images per asset).

    One output row per /Subtype /Image XObject of each PDF document, in
    page order, with the payload RENDERED stdlib-only where the encoding
    allows (JPEG pass-through, Flate/raw gray/rgb rasters re-encoded as
    real PNGs — core/pdf_extract.render_figure_images); other encodings
    emit metadata-only rows (image NULL). Non-PDF documents and
    documents that fail to parse contribute no rows — this is an asset
    side-channel; the extraction pipeline's failure taxonomy is the
    record of WHY a document yielded nothing. Arrow-batched mapInPandas,
    one pass over the corpus, no shuffle."""
    from ..core.dispatch import url_hash
    from ..core.pdf_extract import render_figure_images
    from ..core.taxonomy import ExtractionError

    def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for url, blob in zip(
                batch["url"].to_numpy(), batch["html"].to_numpy()
            ):
                data = bytes(blob or b"")
                if not data.startswith(b"%PDF-"):
                    continue
                try:
                    figs = render_figure_images(data, url_hash(url))
                except ExtractionError:
                    continue
                for f in figs:
                    rows.append({"url": url, **f})
            yield pd.DataFrame(
                rows,
                columns=[
                    "url", "figure_id", "page_number", "image_format",
                    "width", "height", "image",
                ],
            )

    return pages.select("url", "html").mapInPandas(
        batch_fn, schema=FIGURE_IMAGE_SCHEMA
    )
