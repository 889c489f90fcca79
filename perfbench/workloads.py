"""Seeded workload inputs and their goldens.

Each workload is built in plain Python from the run seed, written as parquet
with pyarrow (no Spark), and cached under ``.bench_cache/inputs`` keyed by
workload, seed, size and a hash of the generator sources.  The program only
ever sees the parquet files.

Golden rows are ``(conv_id, turn_idx, content_type, golden_text,
golden_spans, golden_status)``; the PDF goldens are the fixture goldens
(``make_big_pdf`` goldens are exact), HTML goldens are the frozen HTML
fixture goldens and a text turn's golden is the turn itself.
"""

from __future__ import annotations

import base64
import datetime as dt
import hashlib
import json
import os
import random
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq

from pdfparse_spark.fixtures import html_gen, pdf_gen
from pdfparse_spark.fixtures.html_gen import build_html_fixtures
from pdfparse_spark.fixtures.pdf_gen import build_pdf_fixtures, make_big_pdf
from pdfparse_spark.pipeline import transcripts
from pdfparse_spark.pipeline.transcripts import make_transcript_rows

# conversations per workload input (make_transcript_rows conversations for
# light_turns), sized so one pass takes ~4-6 s on three task slots
SIZES = {"pdf_heavy": 320, "light_turns": 4000}

INPUT_ARROW = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)
_SPAN = pa.struct([("page", pa.int32()), ("start", pa.int32()), ("end", pa.int32())])
GOLDEN_ARROW = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("g_content_type", pa.string()),
        ("g_text", pa.string()),
        ("g_spans", pa.list_(_SPAN)),
        ("g_status", pa.string()),
    ]
)

_EPOCH = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
_ROLES = ("user", "assistant", "tool")
_N_FILES = 8


def _pdf_payload(data: bytes) -> str:
    return "pdfb64:" + base64.b64encode(data).decode("ascii")


def _template_conv(conv_id, big_seeds, rng, small, html):
    """One 20-turn conversation in the bench-corpus template shape
    (pipeline/bench_corpus.py): 2 big Flate PDFs, 4 small fixture PDFs,
    6 HTML turns and 8 text turns."""
    turns = []
    for s in big_seeds:
        fx = make_big_pdf(20, 40, seed=s)
        turns.append((_pdf_payload(fx.data), "fetch_pdf", "pdf", fx.golden_text, fx.golden_spans, "ok"))
    for _ in range(4):
        fx = small[rng.randrange(len(small))]
        turns.append(
            (_pdf_payload(fx.data), "fetch_pdf", "pdf", fx.golden_text, fx.golden_spans, fx.golden_status)
        )
    for _ in range(6):
        fx = html[rng.randrange(len(html))]
        g = fx.golden_text
        turns.append((fx.html, "fetch_html", "html", g, [(0, 0, len(g))], "ok"))
    for t in range(8):
        text = "Plain turn %d of %s with ordinary prose content, topic %d." % (
            t, conv_id, rng.randrange(1000))
        turns.append((text, "", "text", text, [(0, 0, len(text))], "ok"))
    rng.shuffle(turns)
    return turns


def _pdf_heavy(seed: int, n_convs: int):
    rng = random.Random(seed)
    small, html = build_pdf_fixtures(), build_html_fixtures()
    convs = []
    for ci in range(n_convs):
        conv_id = "doc%d_%05d" % (seed, ci)
        big = (seed * 1_000_003 + 2 * ci, seed * 1_000_003 + 2 * ci + 1)
        convs.append((conv_id, _template_conv(conv_id, big, rng, small, html)))
    return convs


def _light_turns(seed: int, n_convs: int):
    """make_transcript_rows with its PDF turns dropped (keeps the hot conv)."""
    rows, golden = make_transcript_rows(n_convs, 12, seed=seed)
    gold = {(g[0], g[1]): g for g in golden}
    out = []
    for conv_id, ti, role, text, tool, ts in rows:
        _, _, ctype, gtext, gstatus = gold[(conv_id, ti)]
        if ctype == "pdf":
            continue
        out.append(
            ((conv_id, ti, role, text, tool, ts.replace(tzinfo=dt.timezone.utc)),
             (conv_id, ti, ctype, gtext, [(0, 0, len(gtext))], gstatus))
        )
    return out


def _rows(name: str, seed: int, n: int):
    """[(input_row, golden_row)] in a seeded order."""
    if name == "light_turns":
        return _light_turns(seed, n)
    convs = _pdf_heavy(seed, n)
    pairs = []
    g = 0
    for conv_id, turns in convs:
        for ti, (text, tool, ctype, gtext, gspans, gstatus) in enumerate(turns):
            pairs.append(
                ((conv_id, ti, _ROLES[ti % 3], text, tool, _EPOCH + dt.timedelta(seconds=37 * g)),
                 (conv_id, ti, ctype, gtext, gspans, gstatus))
            )
            g += 1
    random.Random(seed + 1).shuffle(pairs)
    return pairs


def _source_hash() -> str:
    h = hashlib.sha256()
    for mod in (pdf_gen, html_gen, transcripts):
        with open(mod.__file__, "rb") as f:
            h.update(f.read())
    with open(__file__, "rb") as f:
        h.update(f.read())
    return h.hexdigest()[:12]


def _shape(pairs, input_bytes: int) -> dict:
    n = len(pairs)
    mix = Counter(g[2] for _, g in pairs)
    per_conv = Counter(r[0] for r, _ in pairs)
    distinct = len({r[3] for r, _ in pairs})
    return {
        "turns": n,
        "input_mb": round(input_bytes / 1e6, 3),
        "mix": {k: round(v / n, 4) for k, v in sorted(mix.items())},
        "distinct_payload_ratio": round(distinct / n, 4),
        "distinct_payloads": distinct,
        "hot_key_share": round(max(per_conv.values()) / n, 4),
        "convs": len(per_conv),
    }


def _write(pairs, path: str, schema: pa.Schema, which: int, n_files: int) -> None:
    os.makedirs(path, exist_ok=True)
    cols = list(zip(*(p[which] for p in pairs)))
    if which == 1:
        cols[4] = [[{"page": p, "start": s, "end": e} for p, s, e in sp] for sp in cols[4]]
    table = pa.Table.from_arrays([pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, "part-%03d.parquet" % i))


def ensure_inputs(cache_root: str, name: str, seed: int, size: int | None = None) -> dict:
    """Build (once) and return {"input", "golden", "shape"} for a workload."""
    n = SIZES[name] if size is None else size
    d = os.path.join(cache_root, "inputs", "%s_s%d_n%d_%s" % (name, seed, n, _source_hash()))
    meta = os.path.join(d, "shape.json")
    if not os.path.exists(meta):
        pairs = _rows(name, seed, n)
        _write(pairs, os.path.join(d, "input"), INPUT_ARROW, 0, _N_FILES)
        _write(pairs, os.path.join(d, "golden"), GOLDEN_ARROW, 1, 2)
        in_bytes = sum(e.stat().st_size for e in os.scandir(os.path.join(d, "input")))
        with open(meta + ".tmp", "w") as f:
            json.dump(_shape(pairs, in_bytes), f, sort_keys=True)
        os.replace(meta + ".tmp", meta)
    with open(meta) as f:
        shape = json.load(f)
    return {"input": os.path.join(d, "input"), "golden": os.path.join(d, "golden"), "shape": shape}
