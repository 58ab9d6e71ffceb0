"""Seeded benchmark inputs, cached by seed under a cache directory.

Generation is outside every timed window and outside ``setup_s``: a
cache entry is written once per (kind, seed, generator version) and
reused by later runs with the same seed.

- ``pages``: document rows (``web_fraction=0``, with claims) plus heavy
  HTML rows (``web_fraction=1, heavy_pages=True``, no claims), each part
  from ``sources.pages.generate_pages`` with a fixed row count, so the
  amount of work does not depend on the seed.  The driver-side expected
  per-``doc_type`` status counts are computed here too (the correctness
  gate compares the Spark output against them).
- ``documents``: the sf0.1 ``documents`` table (``data/``, 5,000 docs, a
  byte copy of the table TESTDATA.md describes) plus seeded near-copies:
  a fixed number of source docs get a fixed multiset of copy counts, each
  copy with 0-2 word edits from the table's own vocabulary.
"""

from __future__ import annotations

import json
import os
import random
import shutil

DOC_ROWS = 4000
WEB_ROWS = 500

BASE_DOCUMENTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1_documents.parquet")
# copies per copied source doc: most docs get none, a few get several
COPY_COUNTS = [1] * 250 + [3] * 200 + [5] * 125 + [8] * 75 + [10] * 50

INPUT_VERSION = 4
KEEP_CACHED = 4  # newest cache entries kept per kind


def _cached(cache_dir: str, kind: str, seed: int, build) -> str:
    from ocr_api_spark.sources.pages import GEN_VERSION

    root = os.path.join(cache_dir, "inputs")
    path = os.path.join(root, f"{kind}-v{INPUT_VERSION}.{GEN_VERSION}-seed{seed}")
    marker = os.path.join(path, "_DONE")
    if not os.path.exists(marker):
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        build(path)
        with open(marker, "w") as f:
            f.write("ok")
    os.utime(marker)  # marks the entry as most recently used

    def last_used(entry: str) -> float:
        done = os.path.join(root, entry, "_DONE")
        return os.path.getmtime(done) if os.path.exists(done) else 0.0

    entries = sorted((e for e in os.listdir(root) if e.startswith(kind + "-")), key=last_used)
    for stale in entries[:-KEEP_CACHED]:
        shutil.rmtree(os.path.join(root, stale), ignore_errors=True)
    return path


def _expected_status_counts(pages, claims, golden) -> dict:
    """Driver-side ``extract_batch`` over every row's resolved text (the
    golden ``extracted_text``) with the row's claimed doc_type."""
    import pandas as pd

    from ocr_api_spark.operators.extract import extract_batch

    rows = golden[["url", "extracted_text"]].merge(
        claims[["url", "doc_type"]] if len(claims) else pd.DataFrame(columns=["url", "doc_type"]),
        on="url",
        how="left",
    )
    doc_types = rows["doc_type"].astype(object).where(rows["doc_type"].notna(), None)
    out = extract_batch(rows["extracted_text"], doc_types)
    key = doc_types.map(lambda d: d if d is not None else "<none>")
    counts = out.groupby([key.values, out["status"].values]).size()
    return {f"{d}|{s}": int(n) for (d, s), n in counts.items()}


def pages(cache_dir: str, seed: int) -> str:
    """pages/claims/golden parquet + expected.json; returns the directory."""

    def build(path: str) -> None:
        import pandas as pd

        from ocr_api_spark.sources.pages import generate_pages

        # distinct generator seeds keep the two parts' urls disjoint
        d_pages, d_claims, d_golden = generate_pages(DOC_ROWS, seed=2 * seed, web_fraction=0.0)
        w_pages, _w_claims, w_golden = generate_pages(
            WEB_ROWS, seed=2 * seed + 1, web_fraction=1.0, heavy_pages=True
        )
        all_pages = pd.concat([d_pages, w_pages], ignore_index=True)
        golden = pd.concat([d_golden, w_golden], ignore_index=True)
        # Spark cannot read pandas' default TIMESTAMP(NANOS) parquet type
        all_pages.to_parquet(
            os.path.join(path, "pages.parquet"),
            index=False,
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )
        d_claims.to_parquet(os.path.join(path, "claims.parquet"), index=False)
        golden.to_parquet(os.path.join(path, "golden.parquet"), index=False)
        expected = {
            "rows": len(all_pages),
            "html_rows": int(all_pages["html"].notna().sum()),
            "status_counts": _expected_status_counts(all_pages, d_claims, golden),
        }
        with open(os.path.join(path, "expected.json"), "w") as f:
            json.dump(expected, f)

    return _cached(cache_dir, "pages", seed, build)


def documents(cache_dir: str, seed: int) -> str:
    """documents.parquet (doc_id, text, lang, source, n_chars): the sf0.1
    table followed by the near-copies, which take their source doc's lang
    and source."""

    def build(path: str) -> None:
        import pandas as pd

        base = pd.read_parquet(BASE_DOCUMENTS)
        vocab = sorted({w for t in base["text"] for w in t.split(" ")})
        rng = random.Random(seed)
        sources = rng.sample(range(len(base)), len(COPY_COUNTS))
        counts = list(COPY_COUNTS)
        rng.shuffle(counts)
        copies = []
        for src, n_copies in zip(sources, counts):
            words = base["text"].iat[src].split(" ")
            for _ in range(n_copies):
                w = list(words)
                for _ in range(rng.randint(0, 2)):
                    w[rng.randrange(len(w))] = rng.choice(vocab)
                copies.append((" ".join(w), base["lang"].iat[src], base["source"].iat[src]))
        extra = pd.DataFrame(copies, columns=["text", "lang", "source"])
        first_id = int(base["doc_id"].max()) + 1
        extra.insert(0, "doc_id", range(first_id, first_id + len(extra)))
        extra["n_chars"] = extra["text"].str.len()
        df = pd.concat([base, extra[base.columns]], ignore_index=True)
        df.to_parquet(os.path.join(path, "documents.parquet"), index=False)

    return _cached(cache_dir, "documents", seed, build)
