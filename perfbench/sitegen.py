"""Seeded synthetic inputs for the crawl and search workloads, with their
known answers.

The news site uses exactly the markup ``crawl.extract`` parses:
double-quoted ``og:*`` / ``article:*`` metas, a ``keywords`` name-meta and
an ``itemprop="articleBody"`` div of ``<p>`` paragraphs. Its shape:

- depth 0: the home page, linking every section hub;
- depth 1: section hubs (``og:type`` website), linking their articles,
  the home page and a sibling hub (revisit links);
- depth 2: articles (``og:type`` article), linking their hub, a few other
  articles (back links the visited anti-join must drop), wanted documents
  (pdf/csv/zip), media junk, off-site pages, and sometimes a dead page
  (served as 404) or a page the fetcher has no route to (fetch failure);
- depth 3: the dead and unroutable pages, which link nowhere.

Every page is fetched exactly once, so fetch attempts == unique pages.
"""

from __future__ import annotations

import itertools
import random
import re
from dataclasses import dataclass, field

BASE = "http://news.bench"
SECTIONS = ("news", "sport", "business", "science", "culture", "travel", "health", "tech")
DOC_EXT = ("pdf", "csv", "zip", "docx")
JUNK_EXT = ("jpg", "png", "css", "js")
VOCAB_SIZE = 4000
WORDS_PER_ARTICLE = 40
HUBS_PER_SECTION = 5


def token_list(text: str | None) -> list[str]:
    """Tokens of a text under the engine's rule (lower-cased runs of
    letters and digits; see ``operators.search.query_tokens``)."""
    if not text:
        return []
    return [t for t in re.split(r"[\W_]+", text.lower()) if t]


def tokens(text: str | None) -> frozenset[str]:
    return frozenset(token_list(text))


def _vocabulary(rng: random.Random, n: int) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters) for _ in range(rng.randint(4, 9))))
    return sorted(words)


@dataclass
class Article:
    url: str
    title: str
    description: str
    author: str
    section: str
    keywords: str
    text: str | None  # None: no paragraphs; "": one empty paragraph


@dataclass
class Corpus:
    """Articles drawn from a Zipf-weighted vocabulary."""

    articles: list[Article]
    vocab: list[str]

    def token_sets(self) -> dict[str, frozenset[str]]:
        return {a.url: tokens(a.text) for a in self.articles}


def make_corpus(seed: int, n_articles: int) -> Corpus:
    rng = random.Random(seed)
    vocab = _vocabulary(rng, VOCAB_SIZE)
    cum = list(itertools.accumulate(1.0 / (r + 1) for r in range(VOCAB_SIZE)))
    articles = []
    for i in range(n_articles):
        section = SECTIONS[i % len(SECTIONS)]
        if i % 97 == 13:
            text = None
        elif i % 97 == 31:
            text = ""
        else:
            body = rng.choices(vocab, cum_weights=cum, k=WORDS_PER_ARTICLE)
            body[0] = body[0].capitalize()
            text = " ".join(body) + "."
        articles.append(
            Article(
                url=f"{BASE}/{section}/a{i}",
                title=f"Story {i} {rng.choice(vocab)}",
                description=" ".join(rng.choices(vocab, k=6)),
                author=f"Author {rng.randrange(200)}",
                section=section,
                keywords=",".join(rng.choices(vocab[:200], k=3)),
                text=text,
            )
        )
    return Corpus(articles, vocab)


def _paragraphs(text: str | None) -> str:
    if text is None:
        return ""
    if not text:
        return "<p></p>"
    words = text.split(" ")
    cut = len(words) // 2
    return f"<p>{' '.join(words[:cut])}</p><p>{' '.join(words[cut:])}</p>"


def article_html(a: Article, links: list[str]) -> str:
    anchors = "".join(f'<a href="{u}">l</a>' for u in links)
    return (
        "<html><head>"
        '<meta property="og:type" content="article">'
        f'<meta property="og:title" content="{a.title}">'
        f'<meta property="og:description" content="{a.description}">'
        f'<meta property="article:author" content="{a.author}">'
        f'<meta property="article:section" content="{a.section}">'
        f'<meta name="keywords" content="{a.keywords}">'
        "</head><body>"
        f'<div itemprop="articleBody">{_paragraphs(a.text)}</div>'
        f"{anchors}</body></html>"
    )


def hub_html(links: list[str]) -> str:
    anchors = "".join(f'<a href="{u}">l</a>' for u in links)
    return f'<html><head><meta property="og:type" content="website"></head><body>{anchors}</body></html>'


@dataclass
class Site:
    pages: dict[str, tuple[int, str, str]]  # url -> (status, content_type, html)
    seeds: list[str]
    corpus: Corpus
    # known answers, named like ``crawl()``'s stats
    expected: dict[str, int] = field(default_factory=dict)
    max_depth: int = 4


def make_site(seed: int, n_articles: int) -> Site:
    """A site whose crawl from ``BASE/`` reaches every article in 3 rounds
    and ends after the 4th."""
    rng = random.Random(seed ^ 0x5EED)
    corpus = make_corpus(seed, n_articles)
    hubs = [f"{BASE}/{s}/hub{h}" for s in SECTIONS for h in range(HUBS_PER_SECTION)]
    hub_articles: dict[str, list[str]] = {h: [] for h in hubs}
    for i, a in enumerate(corpus.articles):
        hub_articles[f"{BASE}/{a.section}/hub{(i // len(SECTIONS)) % HUBS_PER_SECTION}"].append(a.url)

    pages: dict[str, tuple[int, str, str]] = {}
    pages[f"{BASE}/"] = (200, "text/html", hub_html(hubs))
    for j, h in enumerate(hubs):
        links = hub_articles[h] + [f"{BASE}/", hubs[(j + 1) % len(hubs)], f"/{h.split('/')[-2]}/about.pdf"]
        pages[h] = (200, "text/html", hub_html(links))

    docs: set[str] = {f"{BASE}/{s}/about.pdf" for s in SECTIONS}
    dead: set[str] = set()
    unroutable: set[str] = set()
    urls = [a.url for a in corpus.articles]
    for i, a in enumerate(corpus.articles):
        links = [f"/{a.section}/hub0", f"{BASE}/"]
        links += rng.sample(urls, 3)
        if i % 5 == 0:
            doc = f"{BASE}/files/f{rng.randrange(n_articles)}.{rng.choice(DOC_EXT)}"
            docs.add(doc)
            links.append(doc)
        links.append(f"/static/i{rng.randrange(50)}.{rng.choice(JUNK_EXT)}")
        links.append(f"http://elsewhere.example/{rng.randrange(100)}")
        if i % 50 == 7:
            d = f"{BASE}/gone/p{i}"
            dead.add(d)
            links.append(d)
        if i % 211 == 3:
            u = f"{BASE}/moved/p{i}"
            unroutable.add(u)
            links.append(u)
        pages[a.url] = (200, "text/html", article_html(a, links))
    for d in dead:
        pages[d] = (404, "text/html", "<html><body>not found</body></html>")

    expected = {
        "pages_found": 1 + len(hubs) + n_articles + len(dead) + len(unroutable),
        "docs_found": len(docs),
        "fetch_failures": len(unroutable),
        "articles": n_articles,
        "depth_reached": 4,
    }
    return Site(pages=pages, seeds=[f"{BASE}/"], corpus=corpus, expected=expected)


@dataclass
class Request:
    kind: str  # "keyword" | "multi" | "miss" | "bm25"
    keyword: str


# Request kinds in a fixed repeating order, so every run of a given length
# sees the same mix whatever the seed. The four kinds are the ones the
# keyword API serves: single-term lookups, multi-term OR lookups,
# unknown-token misses and BM25 top-10 probes. No measured traffic for the
# API exists, so they are weighted equally; the weights are an assumption.
KEY_RANK0, KEY_STRIDE = 20, 7
KIND_CYCLE = ("keyword", "multi", "miss", "bm25")


def make_requests(seed: int, corpus: Corpus, n: int) -> list[Request]:
    """Seeded request stream for the keyword API.

    Keys are Zipf-skewed, so some keys repeat often (a response cache would
    hit). The k-th most requested key is the word of corpus frequency rank
    ``KEY_RANK0 + KEY_STRIDE * k``: which words those are depends on the
    seed, but their document frequencies, and so the response sizes, do
    not."""
    rng = random.Random(seed ^ 0xC0FFEE)
    keys = corpus.vocab[KEY_RANK0::KEY_STRIDE][:500]
    zipf = list(itertools.accumulate(1.0 / (r + 1) for r in range(len(keys))))
    out = []
    for i in range(n):
        kind = KIND_CYCLE[i % len(KIND_CYCLE)]
        if kind == "keyword":
            keyword = rng.choices(keys, cum_weights=zipf)[0]
        elif kind == "multi":
            terms = rng.sample(keys, rng.randint(2, 3))
            keyword = " ".join(t.upper() if rng.random() < 0.3 else t for t in terms)
        elif kind == "miss":
            keyword = f"qq{rng.randrange(10**6)}zz"
        else:
            keyword = " ".join(rng.choices(keys, cum_weights=zipf, k=rng.randint(1, 2)))
        out.append(Request(kind, keyword))
    return out
