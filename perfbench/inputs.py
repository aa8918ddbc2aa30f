"""Seeded benchmark inputs, generated once per (seed, size) and cached.

Every workload draws from ``unfurl_spark.sources.synthetic``: the same
seed gives the same four parquet tables (documents, oEmbed side table,
media payloads, expected spans).  Generation runs before set-up and is
never timed.
"""

from __future__ import annotations

import json
import os
import shutil

TABLES = ("documents_raw", "oembed_docs", "media_payloads", "expected_spans")


def corpus(root: str, seed: int, n_docs: int) -> dict[str, str]:
    """Paths of the cached corpus for (seed, n_docs), generating it first
    if absent.  A half-written cache is never reused: the corpus is
    written to a temporary directory and renamed into place."""
    from unfurl_spark.sources.synthetic import write_corpus

    base = os.path.join(root, ".bench_data", "inputs")
    out = os.path.join(base, f"s{seed}_n{n_docs}")
    if not os.path.isdir(out):
        tmp = f"{out}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        write_corpus(tmp, n_docs, seed=seed)
        try:
            os.replace(tmp, out)
        except OSError:  # another run finished the same corpus first
            if not os.path.isdir(out):
                raise
            shutil.rmtree(tmp, ignore_errors=True)
    return {t: os.path.join(out, f"{t}.parquet") for t in TABLES}


def n_rows(paths: dict[str, str], workload: str) -> int:
    """Rows a pass processes: media items for media_decode, else docs."""
    import pyarrow.parquet as pq

    table = "media_payloads" if workload == "media_decode" else \
        "documents_raw"
    return pq.ParquetFile(paths[table]).metadata.num_rows


def read_rows(path: str) -> list[dict]:
    import pyarrow.parquet as pq

    return pq.read_table(path).to_pylist()


def expected_media(paths: dict[str, str]) -> dict[str, tuple]:
    """media_ref → (ctype, n_bytes, width, height) as the generator built
    them.  PNG dimensions come from the generator's own expected media
    spans, not from reading the payload."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    media = pq.read_table(paths["media_payloads"]).to_pydict()
    spans = pc.list_flatten(
        pq.read_table(paths["expected_spans"], columns=["spans"])["spans"])
    png = spans.filter(pc.and_(
        pc.equal(pc.struct_field(spans, "kind"), "media"),
        pc.ends_with(pc.struct_field(spans, "media_ref"), ".png")))
    dims = {}
    for ref, text in zip(pc.struct_field(png, "media_ref").to_pylist(),
                         pc.struct_field(png, "text").to_pylist()):
        snip = json.loads(text)
        dims[ref] = (snip["width"], snip["height"])
    return {ref: (ct, len(p), *dims.get(ref, (None, None)))
            for ref, ct, p in zip(media["media_ref"], media["ctype"],
                                  media["payload"])}
