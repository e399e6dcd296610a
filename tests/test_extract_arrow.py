"""The Arrow extraction pass against the scalar mirror of its grammar.

``extract_points`` + ``with_point_id`` must return, row for row and bit
for bit, what ``__spark_entry__._extract_points_single`` (Python ``re``
with ``re.ASCII`` + ``polyline_codec.decode``) returns on a seeded
adversarial corpus, at a tiny and at the default Arrow batch size. The
plan must stay one ``mapInArrow`` pass over a pruned scan.
"""

from __future__ import annotations

import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

import __spark_entry__ as contract
from opentopodata_spark import fixtures, polyline_codec
from opentopodata_spark.operators import extract

# The schema the extraction has always returned (names, types, nullability).
POINTS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), True),
        StructField("span_pos", IntegerType(), False),
        StructField("point_pos", IntegerType(), False),
        StructField("lat", DoubleType(), True),
        StructField("lon", DoubleType(), True),
        StructField("loc_error", StringType(), True),
        StructField("point_id", LongType(), False),
    ]
)

PAIR_CASES = [
    "1.2.3,4", "1,2,3", "--1,2", "-0,5", "0,-0", "see 95.0,10.0 here",
    "10,200", "-90,-180", "90.0000001,0", "1" + "0" * 400 + ",1",
    "0.5,0.25|1,2|3,4", "1.,2", ".5,1", "1,2.", "x,y", ",", "enc:1,2",
    "a\n1,2\nb", "12.5,3\n40.1,-3.2", "1,\n2", "1\n,2",
    "١٢.5,٣", "١,2 3,4", "3,٤5", "1,2 3,4", "€1,2€",
]
POLYLINE_CASES = [
    "_p~iF~ps|U_ulLnnqC_mqNvxq`@",
    "enc:_p~iF~ps|U_ulLnnqC_mqNvxq`@",
    "_p~iF~ps|U\n",             # Java/Python '$' match before a final \n
    "enc:_p~iF~ps|U\n",
    "_p~iF~ps|U_ulLnnqC_mqNvxq",  # truncated (odd varint count)
    "_p~iF~ps|U_",                # truncated (continuation byte last)
    "z" * 13 + "A" + "?",         # varint over 12 chars -> scalar path
    "z" * 13 + "A" + "??",        # ... with an odd varint count
    "z" * 20 + "A" + "?" + "_p~iF~ps|U",
    polyline_codec.encode([(10.0, 10.0), (95.0, 0.0), (11.0, 11.0)]),
    polyline_codec.encode([(10.0, 10.0), (0.0, 181.0)]),
    "enc:", "enc:enc:_p~iF~ps|U", "ridge", "?", "_p~iF ~ps|U", "ab€",
    "\x7f\x7f", "",
]


def adversarial_documents(seed: int, n_docs: int) -> pa.Table:
    """Seeded documents mixing the fixed cases above with random pairs,
    polylines, noise, media spans, null text and empty/null span lists."""
    rng = np.random.default_rng(seed)

    def random_text() -> str | None:
        r = rng.random()
        if r < 0.25:
            return PAIR_CASES[int(rng.integers(len(PAIR_CASES)))]
        if r < 0.45:
            return POLYLINE_CASES[int(rng.integers(len(POLYLINE_CASES)))]
        if r < 0.55:
            return None
        n = int(rng.integers(1, 5))
        pts = [(round(float(rng.uniform(-95, 95)), int(rng.integers(0, 7))),
                round(float(rng.uniform(-185, 185)), int(rng.integers(0, 7))))
               for _ in range(n)]
        if r < 0.8:
            sep = str(rng.choice(["|", " | ", "\n", "; ", "|\n"]))
            return "go " + sep.join(f"{a},{b}" for a, b in pts) + " now"
        enc = polyline_codec.encode(pts)
        return ("enc:" if rng.random() < 0.5 else "") + enc

    doc_ids, spans = [], []
    for i in range(n_docs):
        r = rng.random()
        if r < 0.05:
            doc_spans = None
        elif r < 0.1:
            doc_spans = []
        else:
            doc_spans = []
            for j in range(int(rng.integers(1, 8))):
                k = rng.random()
                if k < 0.2:
                    doc_spans.append({"kind": "media", "text": None,
                                      "media_ref": f"m{i}-{j}", "offset": j})
                elif k < 0.25:  # media span carrying text: never parsed
                    doc_spans.append({"kind": "media", "text": "1,2",
                                      "media_ref": f"m{i}-{j}", "offset": j})
                elif k < 0.28:
                    doc_spans.append(None)
                elif k < 0.3:
                    doc_spans.append({"kind": None, "text": "3,4",
                                      "media_ref": None, "offset": j})
                else:
                    doc_spans.append({"kind": "text", "text": random_text(),
                                      "media_ref": None, "offset": j})
        doc_ids.append(f"adv-{seed}-{i:05d}")
        spans.append(doc_spans)
    return pa.Table.from_pydict({"doc_id": doc_ids, "spans": spans},
                                schema=fixtures.DOCUMENTS_SCHEMA)


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    table = adversarial_documents(seed=11, n_docs=600)
    path = str(tmp_path_factory.mktemp("adversarial") / "docs.parquet")
    pq.write_table(table, path, row_group_size=150)
    return table, path


@pytest.fixture(params=[7, 65536])
def batch_size(request, spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, str(request.param))
    yield request.param
    spark.conf.set(key, old)


def _bits(row) -> tuple:
    """A row with floats as hex strings: -0.0 != 0.0, NaN == NaN."""
    return tuple(v.hex() if isinstance(v, float) else v for v in row)


def test_mirror_rejects_unicode_digits():
    table = pa.Table.from_pydict(
        {"doc_id": ["d"], "spans": [[
            {"kind": "text", "text": "١٢.5,٣", "media_ref": None, "offset": 0},
            {"kind": "text", "text": "3,٤5 7,8", "media_ref": None, "offset": 1},
        ]]},
        schema=fixtures.DOCUMENTS_SCHEMA,
    )
    assert contract._extract_points_single(table) == [
        ("d", 1, 0, 7.0, 8.0, None)]


def test_extract_matches_scalar_mirror(spark, corpus, batch_size):
    table, path = corpus
    got_df = extract.with_point_id(
        extract.extract_points(spark.read.parquet(path)))
    assert got_df.schema == POINTS_SCHEMA

    want = contract._extract_points_single(table)
    want_df = extract.with_point_id(spark.createDataFrame(
        want, StructType(list(POINTS_SCHEMA.fields[:-1]))))
    got = sorted(_bits(r) for r in got_df.collect())
    exp = sorted(_bits(r) for r in want_df.collect())
    assert len(got) == len(exp)
    assert got == exp
    # the corpus really reaches every branch
    assert any(r[5] is not None for r in got)  # loc_error rows
    assert len({r[0] for r in got}) > 100


def test_extract_plan_is_one_arrow_pass(spark, corpus):
    _table, path = corpus
    df = extract.with_point_id(extract.extract_points(spark.read.parquet(path)))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1, plan
    assert "ArrowEvalPython" not in plan, plan
    assert "Generate" not in plan, plan
    assert re.findall(r"ReadSchema: (\S+)", plan) == [
        "struct<doc_id:string,spans:array<struct<kind:string,text:string>>>"
    ], plan
