"""Seeded workload generators.

Every workload is a pure function of ``(name, seed)``: the same seed gives
byte-identical inputs. Pages come from the package's own synthesizers
(``sources.pages.synth_payload`` and its image builders), so the program
sees real payloads of the dialects it supports; the generator also
records, per url, whether the payload is a planted hard failure, which is
what the output checker holds the job's rollup against.

The program receives only the parquet files written by ``write_pages`` /
``write_texts``; the expectations stay in the benchmark process.
"""

from __future__ import annotations

import bisect
import itertools
import random
from dataclasses import dataclass

# Corpus sizes. One run (JVM launch, cold job, warm-up, timed loop) stays near
# a minute on a 4-core host. At these sizes Spark's per-job overhead is a
# large share of a repetition (about 3 of crawl_mixed's 4 s), which it
# measures along with the per-document work.
CRAWL_DOCS = 6_000
DEDUP_DOCS = 1_000

N_HOSTS = 3_000
HOST_ZIPF_S = 1.1
VOCAB = 4_000
WORD_ZIPF_S = 1.05

# (mode, weight, planted hard failure). Modes are ``synth_payload`` modes
# except the ``corrupt_*``/``png``/``jpg``/``gif`` ones this module builds
# itself.
CRAWL_MIX = [
    # ~80% HTML variants
    ("html", 40.0, False),
    ("html_table", 14.0, False),
    ("html_fig", 12.0, False),
    ("html_charset", 7.0, False),
    ("gzip_html", 7.0, False),
    # ~8% PDF
    ("pdf", 2.0, False),
    ("pdf2", 2.0, False),
    ("pdf_xs", 2.0, False),
    ("pdf_table", 1.0, False),
    ("pdf_hdr", 1.0, False),
    # ~5% office / epub / rtf
    ("docx", 0.8, False),
    ("xlsx", 0.6, False),
    ("pptx", 0.6, False),
    ("odt", 0.5, False),
    ("ods", 0.4, False),
    ("epub", 0.5, False),
    ("rtf", 0.6, False),
    ("doc", 0.5, False),
    ("xls", 0.5, False),
    # rest: txt and images
    ("txt", 3.0, False),
    ("png", 1.0, False),
    ("jpg", 1.0, False),
    ("gif", 0.5, False),
    # ~2.5% planted corrupt payloads
    ("corrupt_pdf", 1.0, True),
    ("corrupt_png", 0.8, True),
    ("corrupt_gif", 0.7, True),
]

@dataclass
class Pages:
    """A generated pages table plus what the checker expects of it."""

    urls: list[str]
    payloads: list[bytes]
    modes: list[str]
    failing: set[str]  # urls whose payload is a planted hard failure


@dataclass
class Texts:
    """A generated dedup corpus plus its planted structure."""

    doc_ids: list[int]
    texts: list[str]
    exact_groups: list[list[int]]  # ids sharing one text (>= 2 each)
    chains: list[list[int]]  # A~B~C near-copy chains, in chain order


def _zipf_cdf(n: int, s: float) -> list[float]:
    weights = [1.0 / (r**s) for r in range(1, n + 1)]
    return list(itertools.accumulate(weights))


def _pick(rng: random.Random, cdf: list[float]) -> int:
    return bisect.bisect_left(cdf, rng.random() * cdf[-1])


def _vocab(rng: random.Random) -> list[str]:
    cons, vows = "bcdfghjklmnprstvwz", "aeiou"
    words: set[str] = set()
    while len(words) < VOCAB:
        syl = rng.randint(1, 4)
        words.add(
            "".join(rng.choice(cons) + rng.choice(vows) for _ in range(syl))
        )
    return sorted(words)


class _TextSource:
    def __init__(self, rng: random.Random):
        self.rng = rng
        self.words = _vocab(rng)
        self.cdf = _zipf_cdf(len(self.words), WORD_ZIPF_S)

    def text(self, lo: int = 12, hi: int = 160) -> str:
        n = self.rng.randint(lo, hi)
        return " ".join(self.words[_pick(self.rng, self.cdf)] for _ in range(n))


def _payload(mode: str, doc_id: int, ts: _TextSource) -> bytes:
    from pdf_document_extractor_spark.sources import pages as sp

    rng = ts.rng
    if mode == "corrupt_pdf":
        return b"%PDF-1.4\nbody truncated in transit " + str(doc_id).encode()
    if mode == "corrupt_png":
        return b"\x89PNG\r\n\x1a\nxx"
    if mode == "corrupt_gif":
        return b"GIF89a\x01"
    if mode == "png":
        return sp.synth_png_payload(rng.randint(16, 512), rng.randint(16, 512))
    if mode == "jpg":
        return sp.synth_jpeg_payload(rng.randint(16, 512), rng.randint(16, 512))
    if mode == "gif":
        return sp.synth_gif_payload(rng.randint(16, 512), rng.randint(16, 512))
    lang = rng.choice(["en", "de", "fr", "es", "zh"])
    source = rng.choice(["crawl", "sitemap", "feed", "link"])
    return sp.synth_payload(doc_id, ts.text(), mode, lang=lang, source=source)


def _mode_list(rng: random.Random, n: int, mix):
    """Exactly ``n`` modes in the mix's proportions, shuffled: every seed
    gets the same per-mode counts, so the work per run does not depend on
    the seed's luck."""
    total = sum(w for _, w, _ in mix)
    counts = [int(n * w / total) for _, w, _ in mix]
    for k in range(n - sum(counts)):
        counts[k % len(counts)] += 1
    modes = []
    for (mode, _, fails), c in zip(mix, counts):
        modes += [(mode, fails)] * c
    rng.shuffle(modes)
    return modes


def _pages(seed: int, n: int, mix) -> Pages:
    rng = random.Random(seed)
    ts = _TextSource(rng)
    hosts = [f"h{rng.getrandbits(32):08x}.example.org" for _ in range(N_HOSTS)]
    host_cdf = _zipf_cdf(N_HOSTS, HOST_ZIPF_S)
    urls, payloads, modes, failing = [], [], [], set()
    for i, (mode, fails) in enumerate(_mode_list(rng, n, mix)):
        host = hosts[_pick(rng, host_cdf)]
        url = f"https://{host}/{mode}/{i:07d}-{rng.getrandbits(24):06x}"
        urls.append(url)
        payloads.append(_payload(mode, i, ts))
        modes.append(mode)
        if fails:
            failing.add(url)
    return Pages(urls, payloads, modes, failing)


def crawl_mixed(seed: int) -> Pages:
    return _pages(seed, CRAWL_DOCS, CRAWL_MIX)


def _drop(text: str, k: int) -> str:
    return text.split(" ", k)[k]


def dedup_near(seed: int) -> Texts:
    """Distinct Zipf-vocabulary texts with planted exact copies, near
    copies (leading words dropped) and A~B~C chains.

    A text of L words has m = L - 2 word 3-shingles. Dropping its first k
    words leaves Jaccard (m - k) / m. A chain drops k ~ 0.13 m words twice:
    A~B and B~C are >= 0.84, but A~C is <= 0.76, below the 0.8 threshold,
    so only connected components join C to A. Unit counts are fixed, so
    every seed plants the same structure."""
    rng = random.Random(seed)
    ts = _TextSource(rng)
    n_groups, n_chains, n_pairs = DEDUP_DOCS // 25, DEDUP_DOCS // 25, DEDUP_DOCS // 20
    units = (["group"] * n_groups + ["chain"] * n_chains + ["pair"] * n_pairs)
    units += ["single"] * (DEDUP_DOCS - 3 * n_groups - 3 * n_chains - 2 * n_pairs)
    rng.shuffle(units)
    texts: list[str] = []
    exact_groups: list[list[int]] = []
    chains: list[list[int]] = []
    for unit in units:
        base = ts.text(60, 90)
        first = len(texts)
        if unit == "group":
            texts += [base] * 3
            exact_groups.append([first, first + 1, first + 2])
        elif unit == "chain":
            k = round(0.13 * (len(base.split()) - 2))
            texts += [base, _drop(base, k), _drop(base, 2 * k)]
            chains.append([first, first + 1, first + 2])
        elif unit == "pair":
            texts += [base, _drop(base, 1)]
        else:
            texts.append(base)
    return Texts(list(range(len(texts))), texts, exact_groups, chains)


def write_pages(pages: Pages, path: str, n_files: int) -> None:
    """Write the pages table (BASELINE input schema) as ``n_files``
    parquet files, like a crawl's many WARC-derived part files."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    n = len(pages.urls)
    step = -(-n // n_files)
    schema = pa.schema([
        ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
    ])
    for k, lo in enumerate(range(0, n, step)):
        hi = min(n, lo + step)
        table = pa.table({
            "url": pages.urls[lo:hi],
            "warc_ts": pa.array([1_735_689_600_000_000 + i * 1_000_000
                                 for i in range(lo, hi)],
                                pa.timestamp("us", tz="UTC")),
            "html": pa.array(pages.payloads[lo:hi], pa.binary()),
            "text": [""] * (hi - lo),
            "lang": ["en"] * (hi - lo),
        }, schema=schema)
        pq.write_table(table, os.path.join(path, f"part-{k:05d}.parquet"))


def write_texts(texts: Texts, path: str, n_files: int) -> None:
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    n = len(texts.doc_ids)
    step = -(-n // n_files)
    for k, lo in enumerate(range(0, n, step)):
        hi = min(n, lo + step)
        pq.write_table(
            pa.table({"doc_id": pa.array(texts.doc_ids[lo:hi], pa.int64()),
                      "text": texts.texts[lo:hi]}),
            os.path.join(path, f"part-{k:05d}.parquet"),
        )
