"""Production-seam CONTRACT tests (VERDICT r11 task #8).

Three capabilities are environment-stubbed (no network / pdf lib /
media codecs in this sandbox), each behind an injectable seam. These
tests are the seam SPECIFICATION: each one stands up a minimal
production-shaped implementation and pins every clause of the contract
the Spark plumbing depends on — so a deployment knows exactly what to
supply, and a refactor can't silently change the seam's semantics.

Seams:
  1. sources/fetch.py   Fetcher = Callable[[str], bytes]
  2. sources/pdf.py     extractor(path, blob) -> PDF_META_SCHEMA dict
  3. operators/multimodal.py  decoder(blob, mime) -> MEDIA_META_SCHEMA dict
"""

from __future__ import annotations

import pytest


def test_fetcher_seam_contract(spark):
    """Contract for a production `fetcher` (sources/fetch.py):

    - signature: ``fetcher(url: str) -> bytes`` — a plain callable,
      shipped to executors (must be picklable);
    - transport failure = RAISE (any exception): the engine retries
      ``max_retries`` times, then emits a status='error' PLACEHOLDER
      row — content NULL, n_attempts recorded, error = 'Type: msg';
    - success = return the body bytes verbatim: status='fetched',
      content carries the bytes;
    - two-step flow: ``link_resolver(page_bytes) -> str | None``;
      None means the detail page has no asset: status='missing'
      placeholder (content NULL, NO second fetch), parity with the
      reference's missing-placeholder/ files (R/functions.R:100-108);
    - keys present in ``existing`` are status='cached' and the fetcher
      is NEVER invoked for them;
    - every input key yields exactly one output row (placeholders
      included) — downstream null-tolerant ingestion depends on it;
    - the environment default (``default_fetcher``) must raise
      NotImplementedError naming the injection point.
    """
    from utility_service_areas_spark.sources.fetch import (
        default_fetcher,
        fetch_assets,
        missing_assets,
    )

    with pytest.raises(NotImplementedError, match="fetcher="):
        default_fetcher("http://example.invalid/x")

    pages = {
        "http://site/detail/1": b"<a href='http://site/file/1.kml'>",
        "http://site/file/1.kml": b"KMLBYTES",
        "http://site/detail/2": b"<html>no link here</html>",
    }
    calls = []

    def fetcher(url: str) -> bytes:
        calls.append(url)
        if url not in pages:
            raise ConnectionError("boom")
        return pages[url]

    def resolver(page: bytes) -> str | None:
        marker = b"http://site/file/"
        if marker not in page:
            return None
        start = page.index(marker)
        return page[start : page.index(b"'", start)].decode()

    keys = spark.createDataFrame(
        [
            ("1", "http://site/detail/1"),  # -> fetched via resolve
            ("2", "http://site/detail/2"),  # -> missing (resolver None)
            ("3", "http://site/detail/404"),  # -> error after retries
            ("4", "http://site/detail/cached"),  # -> cached, no fetch
        ],
        "certificate_number string, url string",
    )
    existing = spark.createDataFrame([("4",)], "certificate_number string")
    out = {
        r.key: r
        for r in fetch_assets(
            keys,
            "certificate_number",
            "url",
            fetcher=fetcher,
            link_resolver=resolver,
            existing=existing,
            max_retries=2,
        ).collect()
    }
    assert set(out) == {"1", "2", "3", "4"}  # one row per key, always

    assert out["1"].status == "fetched"
    assert bytes(out["1"].content) == b"KMLBYTES"
    assert out["1"].url == "http://site/file/1.kml"  # resolved url kept

    assert out["2"].status == "missing"
    assert out["2"].content is None and out["2"].error is None

    assert out["3"].status == "error"
    assert out["3"].content is None
    assert out["3"].n_attempts == 2  # max_retries honored
    assert out["3"].error.startswith("ConnectionError:")

    assert out["4"].status == "cached"
    assert "http://site/detail/cached" not in calls  # fetcher untouched

    # placeholder listing = exactly the missing/error rows
    ph = {r.key for r in missing_assets(
        fetch_assets(
            keys,
            "certificate_number",
            "url",
            fetcher=fetcher,
            link_resolver=resolver,
            existing=existing,
            max_retries=2,
        )
    ).collect()}
    assert ph == {"2", "3"}


def test_pdf_extractor_seam_contract(spark, tmp_path):
    """Contract for a production PDF extractor (sources/pdf.py):

    - metadata fn signature: ``extract(path: str, blob: bytes) ->
      dict`` with EXACTLY the PDF_META_SCHEMA keys (path, n_bytes,
      n_pages, is_pdf) — pdf_metadata's Arrow batches build rows from
      those keys positionally;
    - pure function of its arguments (no filesystem/session state):
      it runs inside mapInPandas on executors;
    - non-PDF bytes must NOT raise — is_pdf='no' with best-effort
      fields (the reference only ever downloads, never parses:
      R/functions.R:115-140 — so a failed decode is data, not error);
    - n_bytes must equal len(blob) (the audit column downstream
      compaction checks).
    """
    from utility_service_areas_spark.sources.pdf import (
        PDF_META_SCHEMA,
        fake_extract_meta,
    )

    # the shipped deterministic fake IS a conformant implementation —
    # pin the conformance clauses on it
    pdf_blob = b"%PDF-1.4\nfake body"
    meta = fake_extract_meta("/x/a.pdf", pdf_blob)
    assert set(meta) == {f.name for f in PDF_META_SCHEMA.fields}
    assert meta["is_pdf"] == "yes" and meta["n_bytes"] == len(pdf_blob)
    assert meta["n_pages"] >= 1

    not_pdf = fake_extract_meta("/x/b.bin", b"GIF89a...")
    assert not_pdf["is_pdf"] == "no"  # no raise on non-PDF bytes

    # plumbing acceptance: a binaryFile scan through pdf_metadata
    # yields one PDF_META_SCHEMA row per file
    from utility_service_areas_spark.sources.pdf import pdf_metadata

    (tmp_path / "a.pdf").write_bytes(pdf_blob)
    (tmp_path / "b.pdf").write_bytes(b"not a pdf")
    rows = {
        r.path.rsplit("/", 1)[-1]: r
        for r in pdf_metadata(
            spark.read.format("binaryFile").load(str(tmp_path) + "/*.pdf")
        ).collect()
    }
    assert rows["a.pdf"].is_pdf == "yes" and rows["b.pdf"].is_pdf == "no"
    assert rows["a.pdf"].n_bytes == len(pdf_blob)


def test_media_decoder_seam_contract(spark):
    """Contract for a production media decoder
    (operators/multimodal.py):

    - signature: ``decode(blob: bytes, mime: str) -> dict`` with
      EXACTLY the MEDIA_META_SCHEMA keys (mime, width, height,
      duration_ms) — decode_media builds the struct positionally;
    - pure bytes->meta (executor-side, Arrow-batched);
    - mime passes through unchanged into the meta struct;
    - still images carry duration_ms == 0; audio/video carry a
      positive duration — downstream frame-sampling branches on it;
    - bytes NEVER shuffle to Python row-at-a-time: the plumbing is
      mapInPandas over Arrow batches (schema/batch shape pinned in
      test_multimodal.py).
    """
    from utility_service_areas_spark.operators.multimodal import (
        MEDIA_META_SCHEMA,
        fake_decode_meta,
    )

    img = fake_decode_meta(b"\x89PNG fake", "image/png")
    assert set(img) == {f.name for f in MEDIA_META_SCHEMA.fields}
    assert img["mime"] == "image/png" and img["duration_ms"] == 0
    assert img["width"] >= 1 and img["height"] >= 1

    vid = fake_decode_meta(b"mp4 fake", "video/mp4")
    assert vid["duration_ms"] >= 1
    aud = fake_decode_meta(b"wav fake", "audio/wav")
    assert aud["duration_ms"] >= 1


def test_model_inference_seam_contract(spark):
    """Contract for a production batch-inference model
    (operators/inference.py, VERDICT r12 task #4):

    - signature: ``model_fn(texts: list[str]) -> list[list[float]]``
      — a plain picklable callable; one fixed-dim vector per input;
    - the engine calls it with REAL batches (len > 1 when input
      allows, never more than batch_size) — per-row dispatch would
      defeat batch inference;
    - malformed input is DATA, not error: null/empty-text rows come
      back status='invalid' and the model NEVER sees them;
    - a model exception isolates the POISON ROW: the batch retries
      row by row, the bad row gets status='error' ('Type: msg'),
      healthy rows of the same batch still return 'ok';
    - a row whose output dim disagrees is itself status='error';
    - exactly one output row per input row, schema
      (id, output array<double>, status, error);
    - the environment default raises NotImplementedError naming the
      injection point.
    """
    from utility_service_areas_spark.operators.inference import (
        default_model,
        infer_batches,
    )

    with pytest.raises(NotImplementedError, match="model_fn="):
        default_model(["x"])

    def model(texts):
        # executor-side closure: report the observed batch size INSIDE
        # the output vector (component 1) — the only channel that
        # survives the worker boundary
        out = []
        for t in texts:
            if "poison" in t:
                raise RuntimeError("cuda OOM on token soup")
            if "ragged" in t:
                out.append([1.0])  # wrong dim
            else:
                out.append([float(len(t)), float(len(texts))])
        return out

    df = spark.createDataFrame(
        [
            (1, "hello world"),
            (2, None),
            (3, ""),
            (4, "this row is poison"),
            (5, "fine"),
            (6, "ragged row"),
            (7, "also fine"),
        ],
        "doc_id long, text string",
    ).coalesce(1)
    rows = {
        r.doc_id: r
        for r in infer_batches(
            df, model_fn=model, batch_size=3, output_dim=2
        ).collect()
    }

    # 1:1 output, fixed schema
    assert set(rows) == {1, 2, 3, 4, 5, 6, 7}
    # invalid rows quarantined, model never saw them
    assert rows[2].status == "invalid" and rows[3].status == "invalid"
    assert rows[2].output is None
    # healthy rows ok; batch-mates of the poison row survived via the
    # per-row isolation retry (their observed batch size == 1)
    assert rows[1].status == "ok" and rows[1].output == [11.0, 1.0]
    assert rows[5].status == "ok" and rows[5].output == [4.0, 1.0]
    # poison row isolated as data
    assert rows[4].status == "error" and "RuntimeError" in rows[4].error
    # dim-mismatch row is data too
    assert rows[6].status == "error" and "dim mismatch" in rows[6].error
    # REAL batching: the second chunk ([ragged, 'also fine']) had no
    # poison, so its healthy row observed batch size 2 (> 1, and the
    # chunking respected batch_size=3: valid rows 1,4,5 then 6,7)
    assert rows[7].status == "ok" and rows[7].output == [9.0, 2.0]


def test_infer_batches_infers_injected_model_dim(spark):
    """An injected production model with a dimension other than the
    fake's 4 must NOT have every row rejected: with output_dim unset,
    infer_batches takes the dimension from the first valid row."""
    from utility_service_areas_spark.operators.inference import infer_batches

    docs = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id long, text string"
    )

    def eight_dim(texts):
        return [[float(len(t))] * 8 for t in texts]

    rows = infer_batches(docs, model_fn=eight_dim).collect()
    assert all(r.status == "ok" for r in rows)
    assert all(len(r.output) == 8 for r in rows)
