"""The selector's codec picks on the benchmark's webtext and lineitem
columns, pinned so that a change to its size or speed constants
(``SPEED_GBPS``, ``SPEED_WEIGHT``) that flips a pick shows up."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from libgiddy_spark.blocks import _normalize
from libgiddy_spark.selector import select_codec

WEBTEXT_PICKS = {"url": "fsst", "warc_ts": "delta", "html": "fsst",
                 "text": "fsst", "lang": "dict"}
LINEITEM_PICKS = {
    "l_orderkey": "for", "l_partkey": "for", "l_suppkey": "for",
    "l_linenumber": "for", "l_extendedprice": "for",
    "l_quantity": "dict", "l_discount": "dict", "l_tax": "dict",
    "l_returnflag": "dict", "l_linestatus": "dict", "l_shipdate": "dict",
}


def _picks(tbl: pa.Table) -> dict[str, str]:
    return {c: select_codec(_normalize(tbl.column(c)), c)[0]
            for c in tbl.column_names}


@pytest.mark.parametrize("seed", [7, 101])
def test_webtext_picks(seed):
    from libgiddy_spark.webtext import generate_batch

    first = seed * 10_000_000
    tbl = pa.Table.from_batches([generate_batch(np.arange(first, first + 3000))])
    assert _picks(tbl) == WEBTEXT_PICKS


@pytest.mark.parametrize("seed", [1, 11])
def test_lineitem_picks(seed):
    from perfbench.inputs import lineitem_table

    assert _picks(lineitem_table(20_000, seed)) == LINEITEM_PICKS
