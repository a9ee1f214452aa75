"""Seeded input generator for the benchmark workloads.

Everything a workload reads is made here from one integer seed, with
``random.Random(seed)`` only, so the same seed gives byte-identical
records on any machine and a different seed gives different records.

- ``reddit_records``: post and comment dicts in the shape a
  ``RedditSource`` returns (``schemas.POSTS_RAW_SCHEMA`` /
  ``COMMENTS_SCHEMA``), spread over subreddits and days.
- ``documents``: the testdata ``documents`` schema (doc_id, text, lang,
  source, n_chars) with planted duplicate clusters: exact copies that
  differ only in case and whitespace, and near-copies with one word
  replaced (word-3-gram Jaccard >= 0.8 to their base).
- ``embeddings``: the testdata ``embeddings`` schema (vec_id,
  embedding float[64], label) as tight groups of six vectors, so each
  query's exact top-5 are its own group mates.
"""

from __future__ import annotations

import datetime as dt
import math
import random

SUBREDDITS = [
    "MachineLearning", "Python", "datascience", "dataengineering",
    "programming", "learnpython", "statistics", "bigdata",
    "analytics", "deeplearning", "rust", "golang",
]
END = dt.datetime(2025, 9, 30, 23, 59, 59, tzinfo=dt.timezone.utc)
EXTRACTED_AT = dt.datetime(2025, 10, 1, 6, 0, 0, tzinfo=dt.timezone.utc)

_WORDS = (
    "spark data query table join shuffle stage task partition cluster "
    "model python stream batch window schema column index cache memory "
    "disk network latency throughput parquet arrow vector graph kernel "
    "driver executor pipeline metric trace sample filter merge sort "
    "hash bucket skew spill plan cost rule lake file commit"
).split()
_STOP = {
    "en": "the and of is a to in".split(),
    "es": "el la los que y de en".split(),
    "fr": "le la les et des du en".split(),
    "de": "der die und das ist zu im".split(),
    "zh": [],
}
_LANGS = ["en"] * 5 + ["es", "fr", "de", "zh"] * 2


def _words(rng: random.Random, n: int, stop: list[str] = ()) -> list[str]:
    pool = _WORDS + list(stop) * 3
    return [rng.choice(pool) for _ in range(n)]


def _ts(rng: random.Random, days: int) -> dt.datetime:
    return END - dt.timedelta(seconds=rng.randrange(days * 86400))


def reddit_records(
    seed: int,
    n_posts: int,
    comments_per_post: float,
    days: int = 30,
    subreddits: list[str] = SUBREDDITS,
) -> tuple[list[dict], list[dict]]:
    """Posts and comments as row dicts. Subreddit sizes are skewed
    (weight 1/(rank+2)); each post gets between comments_per_post and
    twice that many comments. Scores are heavy-tailed and cover every
    score_category bin, including the -1 divide-by-zero edge of
    engagement_rate."""
    rng = random.Random(seed)
    weights = [1.0 / (i + 2) for i in range(len(subreddits))]
    posts, comments = [], []
    for i in range(n_posts):
        pid = f"t3_{i:07d}"
        sub = rng.choices(subreddits, weights)[0]
        score = int(math.exp(rng.gauss(2.5, 1.9))) - rng.randint(0, 4)
        title = " ".join(_words(rng, rng.randint(3, 12))).capitalize()
        r = rng.random()
        if r < 0.1:
            title = title.upper()
        elif r < 0.25:
            title += "? (" + rng.choice(_WORDS) + "!)"
        r = rng.random()
        selftext = (
            None if r < 0.3
            else "" if r < 0.4
            else " ".join(_words(rng, rng.randint(5, 60)))
        )
        created = _ts(rng, days)
        posts.append({
            "id": pid,
            "title": title,
            "author": (
                "[deleted]" if rng.random() < 0.05
                else f"user_{int(rng.paretovariate(1.2)) % 4000}"
            ),
            "subreddit": sub,
            "score": score,
            "upvote_ratio": round(rng.uniform(0.3, 1.0), 2),
            "num_comments": max(0, score // 4 + rng.randint(0, 30)),
            "created_utc": created,
            "selftext": selftext,
            "url": f"https://example.com/{pid}",
            "is_video": rng.random() < 0.1,
            "is_original_content": rng.random() < 0.2,
            "over_18": rng.random() < 0.05,
            "stickied": rng.random() < 0.02,
            "locked": rng.random() < 0.03,
        })
        parent = pid
        n_comments = rng.randint(int(comments_per_post), int(2 * comments_per_post))
        for _ in range(n_comments):
            cid = f"t1_{len(comments):08d}"
            comments.append({
                "id": cid,
                "post_id": pid,
                "author": (
                    "[deleted]" if rng.random() < 0.04
                    else f"commenter_{int(rng.paretovariate(1.1)) % 20000}"
                ),
                "body": " ".join(_words(rng, rng.randint(2, 25))),
                "score": rng.randint(-5, 200),
                "created_utc": created + dt.timedelta(minutes=rng.randint(1, 600)),
                "parent_id": parent,
                "is_submitter": rng.random() < 0.05,
                "extracted_at": EXTRACTED_AT,
            })
            parent = cid if rng.random() < 0.5 else pid
    return posts, comments


def documents(seed: int, n_docs: int, dup_rate: float = 0.15) -> list[dict]:
    """Documents with planted duplicate clusters. A ``dup_rate`` share
    of documents copies an earlier base document (40+ words): half are
    exact copies up to case and whitespace, half replace one word.
    Unrelated documents share almost no word 3-grams."""
    rng = random.Random(seed)
    docs: list[dict] = []
    bases: list[int] = []
    for i in range(n_docs):
        if bases and rng.random() < dup_rate:
            base = docs[rng.choice(bases)]
            words = base["text"].split()
            lang = base["lang"]
            if rng.random() < 0.5:
                text = "  ".join(words).upper() if rng.random() < 0.5 else (
                    " ".join(words) + " \n"
                )
            else:
                words = list(words)
                words[rng.randrange(len(words))] = rng.choice(_WORDS)
                text = " ".join(words)
        else:
            lang = rng.choice(_LANGS)
            n = rng.randint(8, 19) if rng.random() < 0.1 else rng.randint(40, 90)
            words = _words(rng, n, _STOP[lang])
            if rng.random() < 0.2:
                words = [w + rng.choice(",.;!") if rng.random() < 0.3 else w
                         for w in words]
            text = " ".join(words)
            if n >= 40:
                bases.append(i)
        docs.append({
            "doc_id": i,
            "text": text,
            "lang": lang,
            "source": f"src{rng.randrange(20)}",
            "n_chars": len(text),
        })
    return docs


def embeddings(
    seed: int, n_vecs: int, dim: int = 64, group: int = 6, noise: float = 0.05
) -> list[dict]:
    """Unit-ish float vectors in tight groups of ``group``: a random
    base direction plus small Gaussian noise per member."""
    rng = random.Random(seed)
    out = []
    base: list[float] = []
    for i in range(n_vecs):
        if i % group == 0:
            base = [rng.gauss(0.0, 1.0) for _ in range(dim)]
            norm = math.sqrt(sum(x * x for x in base))
            base = [x / norm for x in base]
        out.append({
            "vec_id": i,
            "embedding": [x + rng.gauss(0.0, noise) for x in base],
            "label": (i // group) % 10,
        })
    return out
