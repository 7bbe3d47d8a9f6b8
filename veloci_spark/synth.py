"""Deterministic synthetic Common-Crawl-style webtext (BASELINE.json input_hint).

Schema: (url:string, warc_ts:timestamp, html:binary, text:string, lang:string).
Seeded (42) and pure-Python-deterministic so every run / cluster size sees the
identical corpus. Golden mini-corpora from FIXTURES.md §2 are planted at fixed
urls so expected top-k is hand-derivable from the reference test expectations.
"""

from __future__ import annotations

import datetime as _dt
import random

_VOCAB_SEED = 42
_EPOCH = _dt.datetime(2024, 1, 1)

# FIXTURES.md §2 golden rows (text values reproduce the ranking-relevant
# strings of the reference tests; citations in FIXTURES.md)
GOLDEN_ROWS: list[tuple[str, str, str]] = [
    # (url_slug, text, lang)
    ("golden/basic/00", "will", "en"),
    ("golden/basic/01", "will testo", "en"),
    ("golden/basic/02", "urge", "en"),
    ("golden/basic/03", "having a long torso", "en"),
    ("golden/basic/04", "majestätischer Anblick (m)", "de"),
    ("golden/basic/05", "majestätisches Aussehen (n)", "de"),
    ("golden/basic/06", "Majestät (f)", "de"),
    ("golden/basic/07", "karl der große", "de"),
    ("golden/basic/08", "karlo", "de"),
    ("golden/basic/09",
     "Prolog:\nthis is a story of a guy who went out to rule the world, but then died. the end",
     "en"),
    ("golden/basic/10", "text localität", "de"),
    ("golden/basic/11", "alle meine Words", "de"),
    ("golden/basic/12", "text", "de"),
    ("golden/basic/13", "localität", "de"),
    ("golden/scores/00", "greg tagebuch 05", "de"),
    ("golden/scores/01", "and some some text 05 this is not relevant let tagebuch greg", "de"),
    ("golden/scores/02", "greg tagebuch", "de"),
    ("golden/phrase/00", "die erbin", "de"),
    ("golden/phrase/01", "erbin", "de"),
    ("golden/phrase/02", "die große erbin", "de"),
    ("golden/tokenize/00", "das \n ist ein txt, test", "de"),
    ("golden/tokenize/01", " Taschenbuch (kartoniert)", "de"),
    ("golden/tokenize/02", "T oll", "de"),
    ("golden/tokenize/03", "ok---nice", "en"),
    ("golden/longtext/00",
     "this text is considerably longer than sixty four bytes so it must not enter the dictionary itself",
     "en"),
    ("golden/code/00", "fn myfunction(arg: usize) { return arg; }", "en"),
]


def _vocab(n: int = 5000) -> list[str]:
    rng = random.Random(_VOCAB_SEED)
    consonants = "bcdfghjklmnprstvwz"
    vowels = "aeiou"
    words = set()
    while len(words) < n:
        w = "".join(
            rng.choice(consonants) + rng.choice(vowels)
            for _ in range(rng.randint(1, 4))
        )
        words.add(w)
    return sorted(words)


def generate_rows(n_docs: int, seed: int = 42) -> list[dict]:
    """n_docs synthetic rows + the planted golden rows (always included)."""
    rng = random.Random(seed)
    vocab = _vocab()
    nv = len(vocab)
    langs = ["en"] * 16 + ["de"] * 3 + ["ja"]
    rows = []

    def mk(url_slug: str, text: str, lang: str, i: int) -> dict:
        return {
            "url": f"https://example.org/{url_slug}",
            "warc_ts": _EPOCH + _dt.timedelta(seconds=i),
            "html": b"<html><body>" + text.encode("utf-8") + b"</body></html>",
            "text": text,
            "lang": lang,
        }

    for i, (slug, text, lang) in enumerate(GOLDEN_ROWS):
        rows.append(mk(slug, text, lang, i))

    base = len(GOLDEN_ROWS)
    for i in range(n_docs):
        lang = langs[rng.randrange(len(langs))]
        n_words = rng.randint(5, 60)
        # zipf-ish: rank sampled as floor(nv * u^3)
        words = [vocab[int(nv * rng.random() ** 3) % nv] for _ in range(n_words)]
        # sprinkle punctuation runs so separator tokens exist
        text_parts = []
        for w in words:
            text_parts.append(w)
            r = rng.random()
            if r < 0.08:
                text_parts.append(", ")
            elif r < 0.12:
                text_parts.append(". ")
            else:
                text_parts.append(" ")
        text = "".join(text_parts).strip()
        rows.append(mk(f"{lang}/{i:08d}", text, lang, base + i))
    return rows


WEBTEXT_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def generate_df_distributed(spark, n_docs: int, seed: int = 42,
                            num_partitions: int = 64):
    """Executor-side deterministic corpus generation for large scales: each
    row is derived from its index with an independent ``Random(seed, i)``
    stream, so the corpus is identical for any partitioning / cluster size.
    Golden rows are NOT included (use :func:`generate_df` for test corpora)."""
    import pandas as pd

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ])
    langs = ["en"] * 16 + ["de"] * 3 + ["ja"]

    def gen(iterator):
        vocab = _vocab()
        nv = len(vocab)
        for pdf in iterator:
            urls, tss, htmls, texts, lgs = [], [], [], [], []
            for i in pdf["id"].values:
                rng = random.Random((seed << 34) ^ int(i))
                lang = langs[rng.randrange(len(langs))]
                n_words = rng.randint(5, 60)
                words = [vocab[int(nv * rng.random() ** 3) % nv]
                         for _ in range(n_words)]
                parts = []
                for w in words:
                    parts.append(w)
                    r = rng.random()
                    parts.append(", " if r < 0.08 else (". " if r < 0.12 else " "))
                text = "".join(parts).strip()
                urls.append(f"https://example.org/{lang}/{int(i):010d}")
                tss.append(_EPOCH + _dt.timedelta(seconds=int(i)))
                htmls.append(b"<html><body>" + text.encode("utf-8") + b"</body></html>")
                texts.append(text)
                lgs.append(lang)
            yield pd.DataFrame({"url": urls, "warc_ts": tss, "html": htmls,
                                "text": texts, "lang": lgs})

    return (
        spark.range(0, n_docs, numPartitions=num_partitions)
        .mapInPandas(gen, schema=schema)
    )


def generate_df(spark, n_docs: int, seed: int = 42, num_partitions: int | None = None):
    """Synthetic webtext as a Spark DataFrame in input_hint shape."""
    rows = generate_rows(n_docs, seed)
    df = spark.createDataFrame(rows, schema=WEBTEXT_SCHEMA)
    if num_partitions:
        df = df.repartition(num_partitions)
    return df
