"""In-process A/B timing of two revisions of the PDF and HTML kernel.

Each side's ``pdfparse_spark/kernel`` is extracted with ``git archive`` into
the gitignored ``.bench_cache/ab/`` and imported under its own top-level
package name (every kernel module imports only relatively), so module
caches and interned keywords stay per side.  Both sides run in one process
over the same inputs, each layer of a round timed base-change-change-base
or change-base-base-change (alternating by round), so host speed drift falls
on both alike.

Layers, each timed per round over the whole input group (repeated until
one sample takes about ``SAMPLE_MS``).  PDF groups:
  open    count_pdf_pages: xref, trailer, page tree, /Contents resolved
  parse   iter_objects over every page's decoded content streams
  noop    process_pdf into a device that drops every callback
  simple  process_pdf into SimpleTextDevice, the whole kernel
HTML group:
  extract extract_html: scan or parse, each block picked as its element closes

Before timing, both sides' outputs must be equal on every input; the run
stops otherwise.  For a PDF that is the text, spans, status and the segment
metadata ``first_y``/``last_y``/``rendered_any``, plus the object count of
each page; for an HTML page the text and status of ``extract_html_status``.
The token caches of ``psparse`` may change speed, never values, so each
side's caches are cleared before each document's check (a cache warmed by
an earlier document cannot hide a value that differs cold), and the check
runs once more with the caches full (every token takes the uncached path
and nothing new is cached).  Timing starts from cleared caches.

Usage (from the repository root):
  python tools/kernel_ab.py --base HEAD~1                 # working tree vs HEAD~1
  python tools/kernel_ab.py --base HEAD --change HEAD     # A/A
  python tools/kernel_ab.py --base <rev> --change <rev>

Prints one table per input group (``big``: ``make_big_pdf(20, 40, seed)``
for ``BIG_SEEDS`` seeds; ``pages``: ``make_big_pdf(20, 0, seed)`` for the
same seeds, the per-page fixed cost without the show loop, which is about
half of a big PDF's time; ``fixtures``: ``build_pdf_fixtures()``; ``html``:
``build_html_fixtures()`` and ``HTML_PAGES`` ``generate_pages`` pages) with each
side's median ms per document, the median over rounds of the change/base
ratio (both sides of a round run back to back, so a round's ratio is free of
slower drift) and the rounds the change was faster in, then one JSON line
with the same figures.
"""

from __future__ import annotations

import argparse
import gc
import importlib
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import time
from types import SimpleNamespace

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))  # perfbench imports its modules by bare name

from pdfparse_spark.fixtures.html_gen import build_html_fixtures, generate_pages  # noqa: E402
from pdfparse_spark.fixtures.pdf_gen import build_pdf_fixtures, make_big_pdf  # noqa: E402
from layers import NoopDevice  # noqa: E402  (perfbench's; duck-typed, so it fits either side)

CACHE = os.path.join(ROOT, ".bench_cache", "ab")
KERNEL = "pdfparse_spark/kernel"
ROUNDS = 21
BIG_SEEDS = 10  # make_big_pdf(20, 40, seed) for seed in range(BIG_SEEDS)
HTML_PAGES = 200  # generate_pages(HTML_PAGES, seed=0)
SAMPLE_MS = 25.0  # a layer repeats over its group until one sample takes about this long


def _git(*args: str) -> bytes:
    return subprocess.run(["git", "-C", ROOT, *args], check=True, capture_output=True).stdout


def load_kernel(side: str, rev: str | None):
    """Import the kernel of ``rev`` (the working tree when None) as the
    package ``kab_<side>_<sha>``; returns (label, namespace of modules)."""
    if rev is None:
        sha, label = "worktree", "worktree"
    else:
        sha = _git("rev-parse", "--verify", rev + "^{commit}").decode().strip()
        label = "%s (%s)" % (rev, sha[:10])
    pkg = "kab_%s_%s" % (side, sha[:12])
    base = os.path.join(CACHE, "%s_%s" % (side, sha))
    dest = os.path.join(base, pkg)
    if rev is None or not os.path.isdir(dest):
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base)
        if rev is None:
            shutil.copytree(os.path.join(ROOT, KERNEL), dest,
                            ignore=shutil.ignore_patterns("__pycache__"))
        else:
            tar = tarfile.open(fileobj=io.BytesIO(_git("archive", sha, KERNEL)))
            tar.extractall(base, filter="data")
            os.rename(os.path.join(base, KERNEL), dest)
            shutil.rmtree(os.path.join(base, "pdfparse_spark"))
    sys.path.insert(0, base)
    mods = {name: importlib.import_module("%s.%s" % (pkg, name))
            for name in ("device", "html_extract", "interp", "pdfdocument", "pdfparser",
                         "pdftypes", "psparse")}
    return label, SimpleNamespace(**mods)


def _page_streams(k, data: bytes) -> list[list]:
    parser = k.pdfparser.PDFParser(data)
    doc = k.pdfdocument.PDFDocument()
    parser.set_document(doc)
    doc.set_parser(parser)
    doc.initialize(b"")
    return [[k.pdftypes.stream_value(s) for s in page.contents] for page in doc.get_pages()]


def _count_objects(k, pages: list[list]) -> int:
    return sum(sum(1 for _ in k.pdfparser.PDFContentParser(streams).iter_objects())
               for streams in pages)


def _output(k, data: bytes) -> tuple:
    device = k.device.SimpleTextDevice()
    try:
        k.interp.process_pdf(device, data)
        status = "ok"
    except Exception as exc:
        status = "error:%s" % type(exc).__name__
    return (device.get_text(), device.spans, status, device.first_y,
            device.last_y, device.rendered_any)


def pdf_output(k, data: bytes) -> tuple:
    out = _output(k, data)
    return out, (_count_objects(k, _page_streams(k, data)) if out[2] == "ok" else None)


def html_output(k, html: str) -> tuple:
    return k.html_extract.extract_html_status(html)


def each(fn, items) -> None:
    for item in items:
        try:
            fn(item)
        except Exception:
            pass  # a failing document costs what it costs on both sides


def pdf_layer_calls(k, docs: list[bytes]) -> dict:
    """Per PDF layer, a function that runs the layer over every document."""
    pages = [_page_streams(k, d) for d in docs if _output(k, d)[2] == "ok"]
    interp, device = k.interp, k.device
    return {
        "open": lambda: each(interp.count_pdf_pages, docs),
        "parse": lambda: each(lambda p: _count_objects(k, p), pages),
        "noop": lambda: each(lambda d: interp.process_pdf(NoopDevice(), d), docs),
        "simple": lambda: each(lambda d: interp.process_pdf(device.SimpleTextDevice(), d), docs),
    }


def html_layer_calls(k, docs: list[str]) -> dict:
    return {"extract": lambda: each(k.html_extract.extract_html, docs)}


def set_token_caches(k, state: str) -> None:
    """Clear the kernel's token caches ("cold"), or fill them to their cap
    with keys no token matches ("full")."""
    for name in ("_VALUE_CACHE", "_KW_CACHE", "_LIT_CACHE"):
        cache = getattr(k.psparse, name, None)
        if cache is None:
            continue
        cache.clear()
        if state == "full":
            cache.update((b"\x00unused %d" % i, None) for i in range(k.psparse._TOKEN_CACHE_MAX))


def check_equal(sides: list, docs: list, group: str, output) -> None:
    for state in ("cold", "full"):
        for i, doc in enumerate(docs):
            outs = []
            for _label, k in sides:
                set_token_caches(k, state)
                outs.append(output(k, doc))
            if outs[0] != outs[1]:
                sys.exit("outputs differ on %s document %d (token caches %s)" % (group, i, state))
    for _label, k in sides:
        set_token_caches(k, "cold")


def run_group(sides: list, docs: list, layer_calls) -> dict:
    calls = [layer_calls(k, docs) for _label, k in sides]
    layers = list(calls[0])
    reps = {}
    for layer in layers:  # warm-up (imports, per-process caches) and sizing
        for c in calls:
            t0 = time.perf_counter_ns()
            c[layer]()
            warm_ms = (time.perf_counter_ns() - t0) / 1e6
        reps[layer] = max(1, round(SAMPLE_MS / max(warm_ms, 1e-3)))
    ms: list[dict] = [{layer: [] for layer in layers} for _ in sides]
    gc_was = gc.isenabled()
    gc.disable()
    try:
        for r in range(ROUNDS):
            # ABBA, then BAAB: drift that is linear within a round cancels
            order = (0, 1, 1, 0) if r % 2 == 0 else (1, 0, 0, 1)
            for layer in layers:
                n = reps[layer]
                got = [0.0, 0.0]
                for s in order:
                    gc.collect()
                    call = calls[s][layer]
                    t0 = time.perf_counter_ns()
                    for _ in range(n):
                        call()
                    got[s] += (time.perf_counter_ns() - t0) / 1e6 / n / len(docs) / 2
                for s in (0, 1):
                    ms[s][layer].append(got[s])
    finally:
        if gc_was:
            gc.enable()
    out = {}
    for layer in layers:
        base, change = ms[0][layer], ms[1][layer]
        out[layer] = {
            "base_ms": statistics.median(base),
            "change_ms": statistics.median(change),
            "ratio": statistics.median(c / b for b, c in zip(base, change)),
            "wins": sum(c < b for b, c in zip(base, change)),
            "rounds": ROUNDS,
        }
    return out


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True, help="git revision of the base side")
    ap.add_argument("--change", default=None,
                    help="git revision of the change side (default: the working tree)")
    args = ap.parse_args(argv)

    sides = [load_kernel("base", args.base), load_kernel("change", args.change)]
    groups = {
        "big": ([make_big_pdf(20, 40, seed=s).data for s in range(BIG_SEEDS)],
                pdf_output, pdf_layer_calls),
        "pages": ([make_big_pdf(20, 0, seed=s).data for s in range(BIG_SEEDS)],
                  pdf_output, pdf_layer_calls),
        "fixtures": ([fx.data for fx in build_pdf_fixtures()], pdf_output, pdf_layer_calls),
        "html": ([fx.html for fx in build_html_fixtures()] + generate_pages(HTML_PAGES),
                 html_output, html_layer_calls),
    }
    print("base:   %s\nchange: %s\nrounds: %d, ABBA/BAAB alternating" % (
        sides[0][0], sides[1][0], ROUNDS))
    report = {"base": sides[0][0], "change": sides[1][0], "groups": {}}
    for group, (docs, output, layer_calls) in groups.items():
        check_equal(sides, docs, group, output)
        res = report["groups"][group] = run_group(sides, docs, layer_calls)
        print("\n%s (%d docs, outputs equal with cold and full token caches)   ms/doc, medians"
              % (group, len(docs)))
        print("%-8s %10s %10s %8s %6s" % ("layer", "base", "change", "ratio", "wins"))
        for layer, r in res.items():
            print("%-8s %10.3f %10.3f %8.3f %3d/%d" % (
                layer, r["base_ms"], r["change_ms"], r["ratio"], r["wins"], r["rounds"]))
    print(json.dumps(report))


if __name__ == "__main__":
    main()
