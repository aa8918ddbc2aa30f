"""In-process replay of the generated rows through the kernel's public
functions, with spans recorded from outside the program.

Each wrapped call records (name, start ns, end ns, parent index,
trace id); the trace id is the doc id (or media ref).  Wrappers replace
module attributes for the duration of the replay only:

* ``engine.flat_document_spans``, ``engine.normalize_jsonld``,
  ``engine.extract_website`` and ``engine.scrape_document`` are
  module-level names in ``engine``, so they are wrapped there;
* ``htmlmeta.parse_html_full``, ``content.classify_blocks`` and
  ``pdftext.pdf_text`` are imported inside ``flat_document_spans`` at
  call time, so they are wrapped on their home modules;
* ``multimodal.decode_pixels`` is called through its module.

Spans stay in memory and are written out once, after the replay.
"""

from __future__ import annotations

import json
import statistics
import time

# (module, attribute, span name)
WRAPPED = (
    ("unfurl_spark.functions.engine", "flat_document_spans",
     "engine.flat_document_spans"),
    ("unfurl_spark.functions.htmlmeta", "parse_html_full",
     "htmlmeta.parse_html_full"),
    ("unfurl_spark.functions.content", "classify_blocks",
     "content.classify_blocks"),
    ("unfurl_spark.functions.engine", "normalize_jsonld",
     "jsonld_lite.normalize_jsonld"),
    ("unfurl_spark.functions.engine", "extract_website",
     "extract.extract_website"),
    ("unfurl_spark.functions.engine", "scrape_document",
     "media.scrape_document"),
    ("unfurl_spark.functions.pdftext", "pdf_text", "pdftext.pdf_text"),
    ("unfurl_spark.functions.multimodal", "decode_pixels",
     "multimodal.decode_pixels"),
)

ROOT_SPAN = "root"


class Tracer:
    def __init__(self):
        self.spans: list[list] = []  # [name, start_ns, end_ns, parent, id]
        self.stack: list[int] = []
        self.trace_id = None

    def wrap(self, name: str, fn):
        spans, stack, clock = self.spans, self.stack, time.perf_counter_ns

        def traced(*args, **kwargs):
            idx = len(spans)
            spans.append([name, clock(), 0, stack[-1] if stack else -1,
                          self.trace_id])
            stack.append(idx)
            try:
                return fn(*args, **kwargs)
            finally:
                stack.pop()
                spans[idx][2] = clock()

        return traced

    def __enter__(self):
        import importlib

        self._saved = []
        for mod_name, attr, name in WRAPPED:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)
            self._saved.append((mod, attr, fn))
            setattr(mod, attr, self.wrap(name, fn))
        return self

    def __exit__(self, *exc):
        for mod, attr, fn in reversed(self._saved):
            setattr(mod, attr, fn)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for name, t0, t1, parent, tid in self.spans:
                f.write(json.dumps({"name": name, "start_ns": t0,
                                    "end_ns": t1, "parent": parent,
                                    "trace_id": tid}) + "\n")


def _doc_calls(paths: dict):
    """(trace id, zero-arg call) per document, with the broadcast-regime
    side stores built from the generated side tables."""
    from inputs import read_rows
    from unfurl_spark.functions import engine

    oe = {r["ref"]: (r["status"], r["ctype"], r["body"])
          for r in read_rows(paths["oembed_docs"])}
    med = {r["media_ref"]: (r["ctype"], r["payload"])
           for r in read_rows(paths["media_payloads"])}
    return [(d["doc_id"],
             lambda d=d: engine.document_spans(
                 d["doc_id"], d["spans"], status=d["status"],
                 oembed_store=oe, media_store=med))
            for d in read_rows(paths["documents_raw"])]


def _media_calls(paths: dict):
    from inputs import read_rows
    from unfurl_spark.functions import multimodal

    container = {"image/png": "png", "application/pdf": "pdf"}
    return [(r["media_ref"],
             lambda r=r: multimodal.decode_pixels(
                 r["payload"], container.get(r["ctype"], "unknown")))
            for r in read_rows(paths["media_payloads"])]


def _replay(calls, tracer: Tracer | None):
    """Run every call once → (wall s, outputs; None for a raised call)."""
    outs = []
    t0 = time.perf_counter()
    for tid, call in calls:
        if tracer is not None:
            tracer.trace_id = tid
            call = tracer.wrap(ROOT_SPAN, call)
        try:
            outs.append(call())
        except Exception:  # noqa: BLE001 — counted as a failed item
            outs.append(None)
    return time.perf_counter() - t0, outs


def kernel_layers(workload: str, paths: dict, trace_path: str) -> dict:
    """Replay untraced and traced; derive the kernel layer metrics from
    the last traced round."""
    calls = (_media_calls(paths) if workload == "media_decode"
             else _doc_calls(paths))
    _replay(calls[:200], None)  # warm imports and regex caches
    # untraced and traced rounds alternate, best of two each, so drift
    # and warm-up do not land on one side of the overhead ratio
    plain_s = traced_s = float("inf")
    for _ in range(2):
        plain_s = min(plain_s, _replay(calls, None)[0])
        tracer = Tracer()
        with tracer:
            wall, outs = _replay(calls, tracer)
        traced_s = min(traced_s, wall)
    tracer.write(trace_path)

    total: dict[str, int] = {}
    count: dict[str, int] = {}
    child_of_flat = 0
    doc_ns = []
    spans = tracer.spans
    for name, t0, t1, parent, _ in spans:
        total[name] = total.get(name, 0) + (t1 - t0)
        count[name] = count.get(name, 0) + 1
        if name == ROOT_SPAN:
            doc_ns.append(t1 - t0)
        elif parent >= 0 and spans[parent][0] == "engine.flat_document_spans":
            child_of_flat += t1 - t0

    n = len(calls)

    def per(name: str, base: int) -> float:
        return total.get(name, 0) / 1e3 / base if base else 0.0

    flat = total.get("engine.flat_document_spans", 0)
    is_docs = workload != "media_decode"
    docs = n if is_docs else 0
    q = statistics.quantiles(doc_ns, n=100) if is_docs else [0.0] * 99
    return {
        "htmlmeta.parse_us_per_doc": per("htmlmeta.parse_html_full", docs),
        "extract.website_us_per_doc": per("extract.extract_website", docs),
        "content.classify_us_per_doc": per("content.classify_blocks", docs),
        "jsonld_lite.normalize_us_per_doc":
            per("jsonld_lite.normalize_jsonld", docs),
        "engine.self_us_per_doc":
            (total.get(ROOT_SPAN, 0) - child_of_flat) / 1e3 / docs
            if docs else 0.0,
        "engine.doc_us_p50": q[49] / 1e3,
        "engine.doc_us_p99": q[98] / 1e3,
        "media.scrape_us_per_item":
            per("media.scrape_document", count.get("media.scrape_document")),
        "pdftext.text_us_per_item":
            per("pdftext.pdf_text", count.get("pdftext.pdf_text")),
        "multimodal.decode_us_per_item":
            per("multimodal.decode_pixels",
                count.get("multimodal.decode_pixels")),
        "multimodal.decode_ok_ratio":
            sum(o is not None for o in outs) / n if not is_docs else 0.0,
        "htmlmeta.parse_calls": count.get("htmlmeta.parse_html_full", 0),
        "extract.website_calls": count.get("extract.extract_website", 0),
        "content.classify_calls": count.get("content.classify_blocks", 0),
        "jsonld_lite.normalize_calls":
            count.get("jsonld_lite.normalize_jsonld", 0),
        "media.scrape_calls": count.get("media.scrape_document", 0),
        "pdftext.text_calls": count.get("pdftext.pdf_text", 0),
        "multimodal.decode_calls": count.get("multimodal.decode_pixels", 0),
        "engine.spans_per_doc":
            sum(len(o) for o in outs if o) / docs if docs else 0.0,
        "trace.overhead_share": traced_s / plain_s - 1.0,
        "trace.kernel_coverage": child_of_flat / flat if flat else 0.0,
    }
