"""Seeded input generators and the offline page transport.

Everything here is a pure function of the seed (and, for the transport,
of the URL), so the same seed always yields the same inputs. The module
is imported by Spark's Python workers when they unpickle `transport`, so
it must stay importable without side effects.
"""

from __future__ import annotations

import hashlib
import random

import numpy as np
import pandas as pd

LANGS = ("en", "de", "fr", "es")
BASE_DOMAIN = "https://www.fda.gov"
PDF_TEXT = "[PDF CONTENT - REQUIRES OCR]"

# Words for fetched page bodies: no digits, no colons and none of the
# words the cleaning rules key on, so the expected cleaned text follows
# from how a body was assembled.
_BODY_WORDS = (
    "patient trial response survival cohort study label agency safety "
    "tumor therapy benefit interim analysis median overall arm placebo "
    "combination adult pediatric relapsed refractory marker biomarker "
    "endpoint primary secondary rate duration progression free event "
    "clinical data report update notice program advisory committee "
    "meeting summary result measure outcome evidence population"
).split()
_BOILERPLATE = (
    "Follow the Oncology Center of Excellence on social media",
    "Follow us on X for the latest updates",
    "Healthcare professionals should report all serious adverse events",
    "For information on the COVID-19 pandemic see the agency page",
)
_HEADER = "Efficacy and Safety"
_CUTOFF = "The application was granted priority review and breakthrough designation."


def _words(rng: np.random.Generator, n: int) -> list[str]:
    return [f"{c}{v}{c2}" for c, v, c2 in zip(
        rng.choice(list("bcdfghjklmnpqrstvwz"), n),
        rng.choice(["a", "e", "i", "o", "u", "ai", "ou", "ee"], n),
        rng.choice(list("bcdfklmnprstvxz"), n),
    )]


# ---------------------------------------------------------------------------
# serve_reads: micro-batch source files for the continuous-ingest pipeline
# ---------------------------------------------------------------------------


REDELIVER = 0.10  # share of a file repeating earlier docs verbatim (same id)
NEARDUP = 0.05  # share copying an earlier doc's text under a new id


def ingest_files(seed: int, n_files: int, docs_per_file: int) -> list[pd.DataFrame]:
    """Source files (doc_id, text, lang, n_chars) with planted re-deliveries
    (after the first file) and near duplicates."""
    rng = np.random.default_rng(seed)
    vocab = np.array(sorted(set(_words(rng, 3000)))[:600])
    files: list[pd.DataFrame] = []
    seen: list[tuple[int, str, str]] = []
    next_id = 1
    for f in range(n_files):
        first_new = next_id
        rows = []
        for _ in range(docs_per_file):
            u = rng.random()
            if f > 0 and u < REDELIVER:
                rows.append(seen[int(rng.integers(0, len(seen)))])
                continue
            if seen and u < REDELIVER + NEARDUP:
                _, text, lang = seen[int(rng.integers(0, len(seen)))]
            else:
                text = " ".join(rng.choice(vocab, int(rng.integers(12, 40))))
                lang = str(rng.choice(LANGS))
            rows.append((next_id, text, lang))
            next_id += 1
        seen.extend(r for r in rows if r[0] >= first_new)
        ids, texts, langs = zip(*rows)
        files.append(pd.DataFrame({
            "doc_id": np.array(ids, dtype=np.int64),
            "text": list(texts),
            "lang": list(langs),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }))
    return files


# One cycle of request kinds; the serving client repeats it, so every run
# serves the same mix.
SERVE_REQUESTS = ("freq_topk", "cm_estimate", "hll_estimate", "kmv_estimate",
                  "bm25_stats")


# ---------------------------------------------------------------------------
# watcher_delta: listing pages, the master they are diffed against, and the
# deterministic URL -> body transport
# ---------------------------------------------------------------------------


def _listing_row(rng: random.Random, key: str) -> dict:
    words = _BODY_WORDS
    kind = rng.random()
    path = f"drugs/notice-{key}"
    if kind < 0.03:
        href = f"/{path}.pdf"
    elif kind < 0.50:
        href = f"/{path}"
    elif kind < 0.90:
        href = f"{BASE_DOMAIN}/{path}"
    else:
        href = path
    return {
        "href": href,
        "title": " ".join(rng.choice(words) for _ in range(rng.randint(3, 6))).capitalize(),
        "description": " ".join(rng.choice(words) for _ in range(rng.randint(5, 10))),
        "date": f"2024-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}",
    }


def webpage(href: str) -> str:
    """The watcher's href -> absolute URL rule, for the expected side."""
    h = href.strip()
    if h.startswith(("http://", "https://")):
        return h
    if h.startswith("/"):
        return BASE_DOMAIN + h
    return BASE_DOMAIN + "/" + h


def rag_id(href: str) -> str:
    return hashlib.md5(webpage(href).encode("utf-8")).hexdigest()


class Listing:
    """Round-by-round listings over a growing master. Round r lists
    `rows` rows: a `known` share drawn from rows already in the master,
    the rest new, plus a few exact repeats and one short (<3 cell) row per
    page that the parser's structural filter drops."""

    def __init__(self, seed: int, rows: int, pages: int, known: float = 0.8):
        self.seed, self.rows, self.pages, self.known = seed, rows, pages, known
        rng = random.Random(seed)
        self.master = [_listing_row(rng, f"{seed}-m{i}") for i in range(rows)]

    def master_frame(self) -> pd.DataFrame:
        """The initial master as watcher records (all string columns)."""
        return pd.DataFrame([
            {"rag_id": rag_id(r["href"]), "title": r["title"],
             "webpage": webpage(r["href"]), "description": r["description"],
             "date": r["date"], "scraped_at": "2024-01-01 09:00:00",
             "text": "archived"}
            for r in self.master
        ])

    def round_rows(self, r: int) -> list[dict]:
        """Listing rows of round r; call for r = 0, 1, ... in order (the
        master pool grows with each round's new rows)."""
        rng = random.Random(self.seed * 100_003 + r)
        n_known = int(self.rows * self.known)
        rows = rng.sample(self.master, n_known)
        new = [_listing_row(rng, f"{self.seed}-r{r}-{j}")
               for j in range(self.rows - n_known)]
        rows += new
        rows += [dict(rows[rng.randrange(len(rows))]) for _ in range(self.rows // 100)]
        rng.shuffle(rows)
        self.master.extend(new)
        return rows

    def pages_frame(self, rows: list[dict]) -> pd.DataFrame:
        per = -(-len(rows) // self.pages)
        out = []
        for p in range(self.pages):
            chunk = rows[p * per:(p + 1) * per]
            trs = "".join(
                f'<tr><td><a href="{r["href"]}">{r["title"]}</a></td>'
                f'<td>{r["description"]}</td><td>{r["date"]}</td></tr>'
                for r in chunk
            )
            out.append({"url": f"{BASE_DOMAIN}/listing?page={p}",
                        "html": f"<html><body><table><tr><td>nav</td></tr>{trs}"
                                "</table></body></html>"})
        return pd.DataFrame(out)


def _body_parts(url: str) -> tuple[list[str], list[str]]:
    """(lines of the fetched body, lines the cleaner should keep)."""
    rng = random.Random(hashlib.md5(url.encode("utf-8")).hexdigest())
    words = _BODY_WORDS

    def line() -> str:
        return " ".join(rng.choice(words) for _ in range(rng.randint(5, 12)))

    body: list[str] = []
    kept: list[str] = []
    for _ in range(rng.randint(2, 6)):
        if rng.random() < 0.3:
            body.append(rng.choice(_BOILERPLATE))
        if rng.random() < 0.15:
            body.append(_HEADER)
        if rng.random() < 0.2:
            body.append("")
        text = line()
        body.append("  " + text if rng.random() < 0.1 else text)
        kept.append(text)
    if rng.random() < 0.5:
        body.append(_CUTOFF)
        body.extend(line() for _ in range(rng.randint(1, 3)))
    return body, kept


def transport(url: str) -> str:
    """Deterministic URL -> page body; stands in for the HTTP fetch."""
    return "\n".join(_body_parts(url)[0])


def expected_corpus(url: str) -> str:
    if url.lower().endswith(".pdf"):
        return PDF_TEXT
    return "\n".join(_body_parts(url)[1])
