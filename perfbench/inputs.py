"""Seeded page generator and the oracle that states the expected outputs.

The traffic is the repository's own: the pages follow
``sources.pages`` (the BASELINE generator), drawn at random instead of by
key arithmetic. A page holds 1 to 62 consecutive lines of the 62-line
golden corpus (``sources.corpus.GOLDEN_LINES``, the reference's
``sample.log``), starting at a random line and wrapping around, so the
level mix (76% TRACE, 17% INFO, 7% EVENT), the time and source mix and
the malformed share (4 of 62 lines) are the corpus's. Only tokens no
fixture sink routes on are varied: the digits of each well-formed line's
``Mesg`` (addresses, handles, timer names) and the bytes of the malformed
hex-dump lines, which gives a pool of distinct lines per seed. Hosts,
TLDs and languages use ``sources.pages``' proportions: 70% of pages on 3
hot hosts, the rest over 97; 6 TLDs; 5 languages.

Every line comes from the pool, so the expected results are computed
once per distinct (line, line_no) pair with the package's pure-Python
oracle (``functions.oracle.parse_line`` + ``accepts``) and multiplied by
how often the pair occurs. The package itself only ever sees the pages.
"""

from __future__ import annotations

import re
from collections import Counter
from dataclasses import dataclass, field

import numpy as np

from logparser_spark.functions.formats import DEFAULT_FORMAT, compile_format
from logparser_spark.functions.oracle import OracleLine, accepts, parse_line
from logparser_spark.operators.filters import CombinedFilter, LineNumberFilter
from logparser_spark.sources.corpus import GOLDEN_LINES
from logparser_spark.sources.pages import HTML_PREFIX, HTML_SUFFIX, LANG_CYCLE, TLDS

HOT_HOSTS, COLD_HOSTS, HOT_SHARE = 3, 97, 0.7
VARIANTS = 8  # pool lines per corpus line

# date, time, level, dot run and source, then the Mesg the variation may touch
_HEAD = re.compile(r"^(\d+ \d+ \S+\s+:\.+[^:]+: )(.*)$")
_DIGITS = re.compile(r"\d+")
_HEX_BYTE = re.compile(r"0x[0-9A-F]{2}")


@dataclass
class Inputs:
    """The generated pages (as columns) plus what the oracle expects."""

    columns: dict
    lines: int
    pages: int
    pool: list
    pool_id: np.ndarray = field(repr=False)   # per line
    line_no: np.ndarray = field(repr=False)   # per line
    page_of_line: np.ndarray = field(repr=False)

    def line_mix(self, limit: int) -> list:
        """The first ``limit`` lines in page order, as the package sees them."""
        return [self.pool[i] for i in self.pool_id[:limit]]


def _variant(line: str, rng) -> str:
    """``line`` with its non-routing tokens redrawn, same widths."""
    def digits(m):
        return "".join(str(d) for d in rng.integers(0, 10, size=len(m.group())))

    head = _HEAD.match(line)
    if head is None:  # a malformed hex-dump line
        return _HEX_BYTE.sub(lambda m: f"0x{int(rng.integers(0, 256)):02X}", line)
    return head.group(1) + _DIGITS.sub(digits, head.group(2))


def generate(lines: int, seed: int) -> Inputs:
    """Pages in the BASELINE schema ``(url, warc_ts, html, text, lang,
    doc_id)`` holding exactly ``lines`` lines. The same seed gives the
    same pages."""
    rng = np.random.default_rng(seed)
    n_corpus = len(GOLDEN_LINES)
    pool = [line if v == 0 else _variant(line, rng)
            for line in GOLDEN_LINES for v in range(VARIANTS)]

    # page boundaries: 1..62 lines per page, trimmed to exactly `lines`
    lens = rng.integers(1, n_corpus + 1, size=lines)
    ends = np.cumsum(lens)
    n_pages = int(np.searchsorted(ends, lines)) + 1
    lens = lens[:n_pages].copy()
    lens[-1] -= int(ends[n_pages - 1]) - lines
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
    page_of_line = np.repeat(np.arange(n_pages), lens)
    line_no = np.arange(lines) - starts[page_of_line]

    # consecutive corpus lines from a random start, one variant per line
    first = rng.integers(0, n_corpus, size=n_pages)
    corpus_id = (first[page_of_line] + line_no) % n_corpus
    pool_id = corpus_id * VARIANTS + rng.integers(0, VARIANTS, size=lines)

    texts = ["\n".join(pool[i] for i in pool_id[s:s + n])
             for s, n in zip(starts.tolist(), lens.tolist())]
    hot = rng.random(n_pages) < HOT_SHARE
    host = np.where(hot, rng.integers(0, HOT_HOSTS, size=n_pages),
                    rng.integers(0, COLD_HOSTS, size=n_pages))
    tld = rng.integers(0, len(TLDS), size=n_pages)
    lang = rng.integers(0, len(LANG_CYCLE), size=n_pages)
    doc_id = np.arange(n_pages, dtype=np.int64) * 7 + int(rng.integers(0, 1000))
    columns = {
        "url": [f"https://{'hot' if o else 'h'}{h}.{TLDS[t]}/doc-{d}"
                for o, h, t, d in zip(hot.tolist(), host.tolist(), tld.tolist(),
                                      doc_id.tolist())],
        "warc_ts": np.datetime64("2026-01-01T00:00:00") + doc_id.astype("timedelta64[s]"),
        "html": [(HTML_PREFIX + t + HTML_SUFFIX).encode() for t in texts],
        "text": texts,
        "lang": [LANG_CYCLE[i] for i in lang.tolist()],
        "doc_id": doc_id,
    }
    return Inputs(columns, lines, n_pages, pool, pool_id, line_no, page_of_line)


class Oracle:
    """Expected per-sink counts for one set of inputs in one format."""

    def __init__(self, inputs: Inputs, spec, sinks):
        self.inputs = inputs
        self.spec = spec
        self.sinks = sinks
        self.asts = [s.ast(spec) for s in sinks]
        self.parsed = [parse_line(raw, spec) for raw in inputs.pool]

        width = int(inputs.line_no.max()) + 1
        key = inputs.pool_id * width + inputs.line_no
        uniq, self.pair_count = np.unique(key, return_counts=True)
        self.pairs = list(zip((uniq // width).tolist(), (uniq % width).tolist()))

    def sink_counts(self) -> dict:
        """Sinks without a ``line_num`` term give the same verdict for a
        line at every line_no, so they are evaluated once per distinct
        line; the others once per distinct (line, line_no) pair."""
        per_line = np.bincount(self.inputs.pool_id, minlength=len(self.inputs.pool))
        counts = {}
        for sink, ast in zip(self.sinks, self.asts):
            def ok(pid, no):
                vals, wf = self.parsed[pid]
                line = OracleLine(self.inputs.pool[pid], no, vals, wf)
                return accepts(ast, line, self.spec, sink.accept_bad_format)

            if _has_line_term(ast):
                n = sum(c for (pid, no), c in zip(self.pairs, self.pair_count.tolist())
                        if ok(pid, no))
            else:
                n = sum(int(c) for pid, c in enumerate(per_line) if c and ok(pid, 0))
            counts[sink.name] = int(n)
        return counts

    def well_formed(self) -> int:
        wf = np.array([wf for _, wf in self.parsed])
        return int(wf[self.inputs.pool_id].sum())

    def level_histogram(self) -> dict:
        """Lines per parsed Level; malformed -> None."""
        pos = self.spec.column_names().index("Level")
        levels = [vals[pos] if wf else None for vals, wf in self.parsed]
        return dict(Counter(levels[i] for i in self.inputs.pool_id.tolist()))


def _has_line_term(ast) -> bool:
    if isinstance(ast, CombinedFilter):
        return _has_line_term(ast.left) or _has_line_term(ast.right)
    return isinstance(ast, LineNumberFilter)


def rsvp_spec():
    return compile_format(DEFAULT_FORMAT, "rsvp")
