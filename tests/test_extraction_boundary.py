"""One extraction boundary: ``fused_extract_udf`` is the only Python
crossing for extraction.  Every path through it — a direct Spark call,
the batch ``extraction_plan`` and the streaming ``extraction_stream`` —
must return what the driver-side batch kernels (``extract_batch`` +
``match_batch``) return for the same rows."""

from __future__ import annotations

import math
import random
from datetime import datetime

import pandas as pd
import pytest

CLAIM_FIELDS = [
    "name", "father_name", "dob", "pan", "adharno", "address", "ifsc", "micr", "account_number",
]
FAMILIES = ["pan_new", "aadhaar_front", "bank", "financial", "dl", "passport_front"]
# address-less DL text: dl.extract_dl_info raises IndexError (reference
# parity), so the row must come back Failed with the exception recorded
DL_RAISES = "DRIVING LICENCE\nDL No: MH12 20110012345\nNAME: RAHUL SHARMA\nDOB: 01/01/1990"
OUT_COLS = ["url", "warc_ts", "lang", "doc_type", "extracted_text", "status", "match"]


@pytest.fixture(scope="module")
def session():
    from ocr_api_spark.plans.session import build_session

    return build_session(app_name="boundary-tests", master="local[2]", shuffle_partitions=2)


def _claimed_rows() -> list[dict]:
    from ocr_api_spark.sources.doctexts import FAMILY_DOC_TYPE, GENERATORS, web_page_html
    from ocr_api_spark.sources.pdftext import write_minimal_pdf

    rng = random.Random(5)
    rows = []
    for fam in FAMILIES:
        text, truth = GENERATORS[fam](rng)
        claims = {c: truth.get(c, "") for c in CLAIM_FIELDS}
        rows.append({"url": fam, "text": text, "html": None, "doc_type": FAMILY_DOC_TYPE[fam], **claims})
    no_claims = dict.fromkeys(CLAIM_FIELDS)
    html, _ = web_page_html(rng)
    pdf = write_minimal_pdf([[(72, 72, 12, "Permanent Account Number"), (72, 90, 12, "ABCPS1234F")]])
    rows += [
        {"url": "html", "text": "", "html": html.encode("utf-8"), "doc_type": None, **no_claims},
        {"url": "pdf", "text": "", "html": pdf, "doc_type": "pan", **no_claims},
        {"url": "null_text", "text": None, "html": None, "doc_type": "pan", **no_claims},
        {"url": "empty_text", "text": "", "html": None, "doc_type": "pan", **no_claims},
        {"url": "dl_raises", "text": DL_RAISES, "html": None, "doc_type": "dl", "name": "RAHUL SHARMA"},
    ]
    return [{**no_claims, **r} for r in rows]


def _plain(v):
    """Nested value with pandas' NaN-for-missing-int mapped back to None,
    so driver output compares to Spark's collected values with ``==``."""
    if isinstance(v, dict):
        return {k: _plain(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_plain(x) for x in v]
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def _driver_expected(rows: list[dict]) -> pd.DataFrame:
    from ocr_api_spark.operators.extract import _payload_to_text, extract_batch, match_batch

    resolved = pd.Series([r["text"] or _payload_to_text(r["html"]) for r in rows])
    doc_types = pd.Series([r["doc_type"] for r in rows])
    ext = extract_batch(resolved, doc_types)
    records = ext.to_dict("records")
    matchable = ("pan", "aadhaar", "bank", "financial")
    claimed = pd.Series(
        [{k: rec[k] for k in matchable} if rec["status"] == "Completed" else None for rec in records]
    )
    claims = [pd.Series([r[c] for r in rows]) for c in CLAIM_FIELDS]
    matches = match_batch(doc_types, claimed, *claims).to_dict("records")
    out = [_plain({**rec, "match": m}) for rec, m in zip(records, matches)]
    return pd.DataFrame(out, dtype=object)


def test_spark_fused_udf_equals_driver_batch_kernels(session):
    from pyspark.sql import functions as F

    from ocr_api_spark.operators.extract import FULL_SCHEMA, fused_extract_udf

    rows = _claimed_rows()
    schema = "url string, text string, html binary, doc_type string, " + ", ".join(
        f"{c} string" for c in CLAIM_FIELDS
    )
    df = session.createDataFrame(
        [tuple(r[c] for c in ["url", "text", "html", "doc_type", *CLAIM_FIELDS]) for r in rows], schema
    )
    udf_args = [F.col(c) for c in ["text", "html", "doc_type", *CLAIM_FIELDS]]
    got = {r["url"]: r["x"] for r in df.select("url", fused_extract_udf(*udf_args).alias("x")).collect()}
    result = pd.DataFrame(
        [_plain(got[r["url"]].asDict(recursive=True)) for r in rows], dtype=object
    )
    expected = _driver_expected(rows)
    assert list(result.columns) == FULL_SCHEMA.fieldNames()
    pd.testing.assert_frame_equal(expected, result)

    by_url = dict(zip([r["url"] for r in rows], result.to_dict("records")))
    # the frame covers what it claims to: every branch completes and folds
    # its claims, both payload kinds resolve, the poison rows fail per row
    for fam in FAMILIES:
        assert by_url[fam]["status"] == "Completed", fam
    for fam in ("pan_new", "aadhaar_front"):
        assert by_url[fam]["match"]["average_match_percentage"] is not None
    assert by_url["financial"]["match"]["percentages"]
    assert by_url["html"]["status"] == "Completed" and by_url["html"]["extracted_text"]
    assert by_url["pdf"]["pan"]["ocr_pan_number"] == "ABCPS1234F"
    assert by_url["dl_raises"]["status"] == "Failed"
    assert by_url["dl_raises"]["error"].startswith("IndexError")
    for url in ("null_text", "empty_text"):
        assert (by_url[url]["status"], by_url[url]["error"]) == ("Failed", "no text")


def _pages_dir(tmp_path) -> tuple[str, str]:
    """Synthetic pages (document + web rows) plus one empty-text and one
    null-text row with no payload, in a directory a stream can read."""
    from ocr_api_spark.sources.pages import generate_pages

    pages, claims, _ = generate_pages(40, seed=23)
    edge = {"warc_ts": datetime(2024, 1, 2), "html": None, "lang": "en"}
    extra = pd.DataFrame(
        [
            {"url": "https://edge.example/empty", "text": "", **edge},
            {"url": "https://edge.example/null", "text": None, **edge},
        ]
    )
    pages_dir = tmp_path / "pages"
    pages_dir.mkdir()
    pd.concat([pages, extra], ignore_index=True).to_parquet(
        pages_dir / "pages.parquet", index=False, coerce_timestamps="us", allow_truncated_timestamps=True
    )
    claims_path = str(tmp_path / "claims.parquet")
    claims.to_parquet(claims_path, index=False)
    return str(pages_dir), claims_path


@pytest.mark.parametrize("with_claims", [False, True], ids=["no_claims", "claims"])
def test_stream_equals_extraction_plan(session, tmp_path, with_claims):
    from ocr_api_spark.plans.pipeline import extraction_plan
    from ocr_api_spark.streaming.stream import extraction_stream, read_pages_stream

    pages_dir, claims_path = _pages_dir(tmp_path)
    claims = session.read.parquet(claims_path) if with_claims else None
    name = f"boundary_stream_{'claims' if with_claims else 'plain'}"
    q = (
        extraction_stream(read_pages_stream(session, pages_dir), claims)
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = session.sql(f"select * from {name}").orderBy("url").collect()
    batch = extraction_plan(session.read.parquet(pages_dir), claims, 1, 1).orderBy("url").collect()

    assert len(streamed) == len(batch) == 42
    for col in OUT_COLS:
        assert [r[col] for r in streamed] == [r[col] for r in batch], col
    if with_claims:
        assert any(r["match"]["average_match_percentage"] is not None for r in streamed)
    else:
        assert all(r["doc_type"] is None for r in streamed)

    edge = {r["url"]: r for r in batch if r["url"].startswith("https://edge.example/")}
    for r in edge.values():
        assert (r["status"], r["error"], r["extracted_text"]) == ("Failed", "no text", None)


def test_empty_text_without_payload_fails_on_every_path(session):
    """``text=''`` with no html resolves to no text at all, so the row
    fails with 'no text' — through the direct UDF call the entry queries
    use and through the batch plan.  The stream is pinned equal to the
    plan, and the driver kernels to the UDF, by the tests above."""
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from ocr_api_spark.plans.pipeline import extraction_plan

    pages = session.createDataFrame(
        [("u-empty", datetime(2024, 1, 1), None, "", "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    direct = pages.select(entry._extract_text(F.col("text"), F.lit("pan")).alias("x")).select("x.*")
    planned = extraction_plan(pages, None, 1, 1)
    for out in (direct, planned):
        row = out.select("status", "error", "extracted_text").collect()[0]
        assert (row["status"], row["error"], row["extracted_text"]) == ("Failed", "no text", None)
