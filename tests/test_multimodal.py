"""Multimodal family (operators/multimodal.py): the Arrow-batched decode
against a per-row reference."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from ask_duckdb_spark.operators.multimodal import _decode_batches


def test_x20_vectorized_decode_matches_reference_rowwise():
    """The r13 vectorized byte-mean (concatenated buffer + reduceat)
    must be bit-identical to the old per-row Python reference,
    including empty and single-byte payloads."""
    payloads = [b"", b"\x00", b"\xff", b"abc", b"\x80" * 64, bytes(range(256))]
    pdf = pd.DataFrame(
        {"doc_id": list(range(len(payloads))), "payload": payloads}
    )
    (got,) = list(_decode_batches(iter([pdf])))

    def ref_mean(b: bytes) -> float:
        return math.floor(float(sum(b)) / max(len(b), 1) * 1e6 + 0.5) / 1e6

    for i, b in enumerate(payloads):
        n = len(b)
        assert got.loc[i, "width"] == n % 64 + 1
        assert got.loc[i, "height"] == n // 64 % 64 + 1
        assert got.loc[i, "n_frames"] == n % 7 + 1
        gb = np.float64(got.loc[i, "mean_byte"]).view(np.uint64)
        rb = np.float64(ref_mean(b)).view(np.uint64)
        assert gb == rb, (i, b, got.loc[i, "mean_byte"], ref_mean(b))
