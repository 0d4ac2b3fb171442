"""Seeded input generators for the benchmark's workloads.

These are the benchmark's own code and import nothing from
``jerex_spark``: a change to the program cannot silently change the
workload.  The page shape copies ``corpus.make_page`` (planted entity
surfaces in filler sentences, a hot host, an en-heavy language mix) and
adds a heavy tail of long pages that reach the extract's span and
mention caps.  Every generator is a pure function of its seed.
"""

from __future__ import annotations

import hashlib
from datetime import datetime, timedelta, timezone

import numpy as np
import pandas as pd

ENTITY_SURFACE = {
    "PER": ["alice rivera", "bob chen", "carla diaz", "dan yu",
            "eva martin"],
    "ORG": ["acme corp", "globex", "initech", "umbrella labs"],
    "LOC": ["springfield", "riverton", "lakeside", "hillvale"],
    "MISC": ["project zeus", "operation dawn"],
}
FILLER = ("the of and a in on at to for with near by from works based "
          "partner city firm lab office report page news item").split()
HOSTS = ["news.example.org", "blog.example.net", "wiki.example.com"]
HOT_HOST = "hot.example.io"
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
ENT_TYPES = list(ENTITY_SURFACE)
# filler words the extract's mention head scores above threshold most
# often: long pages dense in them reach the per-doc mention cap
MENTION_PRONE = ["based", "firm", "item", "from"]

# documents-table vocabulary: the words of the driver's synthetic
# corpus, including the canon_gazetteer alias targets (scan, merge,
# join, stream, window) so every match kind of that query fires
DOC_WORDS = ("a agg batch big column customer data fast filter group hash "
             "join key line merge order part query row scan slow small sort "
             "spark stream table the value vector window").split()

LETTERS = "abcdefghijklmnopqrstuvwxyz"


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, input stream)."""
    key = hashlib.sha256(f"{seed}|{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(key[:8], "little"))


def _sentences(rng, n_sent: int, tok_lo: int, tok_hi: int,
               prone: float = 0.0) -> str:
    """Filler sentences with 0-2 planted entity surfaces each; a share
    ``prone`` of the filler tokens is drawn from MENTION_PRONE."""
    sents = []
    for _ in range(n_sent):
        toks = [MENTION_PRONE[int(rng.integers(len(MENTION_PRONE)))]
                if rng.random() < prone else
                FILLER[int(rng.integers(len(FILLER)))]
                for _ in range(int(rng.integers(tok_lo, tok_hi)))]
        for _ in range(int(rng.integers(0, 3))):
            et = ENT_TYPES[int(rng.integers(len(ENT_TYPES)))]
            surf = ENTITY_SURFACE[et][int(rng.integers(
                len(ENTITY_SURFACE[et])))]
            pos = int(rng.integers(0, len(toks)))
            toks[pos:pos] = surf.split()
        sents.append(" ".join(toks) + ".")
    return " ".join(sents)


def make_pages(seed: int, n: int, long_every: int = 150) -> pd.DataFrame:
    """Common-Crawl-style pages ``(url, warc_ts, html, text, lang)``.

    * every even page carries only ``html`` (``text`` is null), so the
      extract_text UDF runs on half the corpus;
    * one page in five sits on the hot host; languages are en-heavy;
    * one page in ``long_every`` is a long page (100-140 sentences
      dense in mention-prone words) that reaches both the span cap and
      the mention cap.
    """
    rng = _rng(seed, "pages")
    base = datetime(2024, 1, 1, tzinfo=timezone.utc)
    rows = []
    for i in range(n):
        host = HOT_HOST if rng.random() < 0.2 else \
            HOSTS[int(rng.integers(len(HOSTS)))]
        url = f"https://{host}/s{seed}/page/{i}"
        lang = LANGS[int(rng.integers(len(LANGS)))]
        if i % long_every == long_every - 1:
            text = _sentences(rng, int(rng.integers(100, 141)), 6, 12,
                              prone=0.5)
        else:
            text = _sentences(rng, int(rng.integers(2, 7)), 6, 18)
        title = f"page {i}"
        html = (f"<html><head><title>{title}</title></head><body>"
                f"<h1>{title}</h1>\n<p>{text}</p>\n</body></html>"
                ).encode("utf-8")
        ts = base + timedelta(seconds=int(rng.integers(86400 * 90)))
        rows.append({"url": url, "warc_ts": ts, "html": html,
                     "text": None if i % 2 == 0 else text, "lang": lang})
    return pd.DataFrame(rows)


def _typo(rng, word: str) -> str:
    """One random character edit (substitute, insert or delete)."""
    i = int(rng.integers(len(word)))
    op = int(rng.integers(3))
    c = LETTERS[int(rng.integers(26))]
    if op == 0:
        return word[:i] + c + word[i + 1:]
    if op == 1:
        return word[:i] + c + word[i:]
    return word[:i] + word[i + 1:] if len(word) > 4 else word + c


def _name(rng) -> str:
    """A pronounceable two-word surface of 9-17 characters."""
    def word():
        k = int(rng.integers(4, 9))
        return "".join(LETTERS[j] for j in rng.integers(26, size=k))
    return f"{word()} {word()}"


def make_alias(seed: int, n: int) -> pd.DataFrame:
    """Alias dictionary ``(alias, canonical_id)`` of ``n`` rows for the
    page corpus.  Each page word and entity surface is listed either
    as is (an exact match) or with a one-character typo (reachable only
    through LSH blocking + verify); one in ten is stored upper case
    with doubled spaces, so normalization matters.  The rest are
    random two-word names that no page mentions: they make the
    dictionary side of the join, signatures and blocking do work."""
    rng = _rng(seed, "alias")
    words = FILLER + sorted({w for surfs in ENTITY_SURFACE.values()
                             for s in surfs for w in [s, *s.split()]})
    aliases = []
    for w in words:
        aliases.append(w if rng.random() < 0.5 or len(w) < 4
                       else _typo(rng, w))
    seen = set(aliases)
    while len(aliases) < n:
        name = _name(rng)
        if name not in seen:
            seen.add(name)
            aliases.append(name)
    shout = rng.random(len(aliases)) < 0.1
    return pd.DataFrame({
        "alias": [a.upper().replace(" ", "  ") if s else a
                  for a, s in zip(aliases, shout)],
        "canonical_id": [f"Q{k}" for k in range(len(aliases))],
    })


def make_documents(seed: int, n: int) -> pd.DataFrame:
    """``documents(doc_id, text, lang, source, n_chars)`` (the driver
    table schema) with planted duplicate clusters: about 5% of rows
    copy an earlier document byte for byte and about 5% copy one with a
    few words replaced (near duplicates)."""
    rng = _rng(seed, "documents")
    texts, langs = [], []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            j = int(rng.integers(i))
            texts.append(texts[j])
            langs.append(langs[j])
            continue
        if i > 10 and r < 0.10:
            toks = texts[int(rng.integers(i))].split(" ")
            for k in rng.integers(len(toks), size=max(1, len(toks) // 12)):
                toks[k] = DOC_WORDS[int(rng.integers(len(DOC_WORDS)))]
            texts.append(" ".join(toks))
            langs.append(LANGS[int(rng.integers(len(LANGS)))])
            continue
        k = int(rng.integers(12, 80))
        texts.append(" ".join(DOC_WORDS[j] for j in
                              rng.integers(len(DOC_WORDS), size=k)))
        langs.append(LANGS[int(rng.integers(len(LANGS)))])
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts, "lang": langs,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.asarray([len(t) for t in texts], np.int64),
    })


def write_parquet(df: pd.DataFrame, path: str) -> None:
    # microsecond timestamps: Spark's parquet reader rejects the
    # TIMESTAMP(NANOS) pandas writes by default
    df.to_parquet(path, index=False, coerce_timestamps="us",
                  allow_truncated_timestamps=True)


def fingerprint(frames: dict[str, pd.DataFrame]) -> str:
    """sha256 over every generated table's rows, in name order."""
    h = hashlib.sha256()
    for name in sorted(frames):
        h.update(name.encode())
        h.update(pd.util.hash_pandas_object(frames[name], index=False)
                 .to_numpy().tobytes())
    return h.hexdigest()[:16]
