"""Generated inputs, written fresh for every run from its seed.

* thin corpus: ``fixtures.generate_bench_corpus`` as is — Wikipedia-shaped
  pages with anchors, plus facts, types, redirects and held-out ground truth.
* fat pages: the same pages, each person page padded with ``fat_kb`` KiB
  of dense filler, every ``[[...]]`` anchor stripped. Written as their own
  parquet, so the program reads generated pages and runs no stripping step
  of ours. The stored ``text`` column is emptied: the program derives text
  from ``html`` and never reads it.

A run generates its inputs in its own session, before it measures
anything, and never reuses them: inputs cached by an earlier run would
spare the JVM the warm-up that generating gives it, so a run on cached
inputs would measure a colder JVM than one without.
"""

from __future__ import annotations

import os

# few partitions: generating is the first Spark work of a run's JVM, and on
# a few cores every extra task costs time there
GEN_PARTITIONS = 4
# the padded pages are the web_fat scan's input: enough files for a scan
# task per core at its 8 MiB splits
FAT_FILES = 16


def write_thin(spark, out: str, seed: int, persons: int) -> None:
    from fact_extraction_spark.fixtures import generate_bench_corpus

    generate_bench_corpus(spark, seed, persons, out,
                          partitions=GEN_PARTITIONS)


def strip_anchors(html_col):
    """``[[target|text]]`` -> ``text`` and ``[[target]]`` -> ``target``."""
    from pyspark.sql import functions as F

    text = F.decode(html_col, "utf-8")
    text = F.regexp_replace(text, r"\[\[([^|\]]*)\|([^\]]*)\]\]", "$2")
    text = F.regexp_replace(text, r"\[\[([^\]]*)\]\]", "$1")
    return F.encode(text, "utf-8")


def write_fat(spark, out: str, thin: str, seed: int, fat_kb: int) -> None:
    """The thin corpus's pages with ``fat_kb`` KiB of the generator's own
    filler (``fixtures._filler_paragraphs``) inserted into every person
    page before its References section, where ``generate_bench_corpus(...,
    fat_kb=...)`` places it, then anchors stripped. Padding the thin pages
    just written spares generating the whole corpus a second time."""
    from pyspark.sql import functions as F

    pages = spark.read.parquet(os.path.join(thin, "pages.parquet"))

    def pad(batches):
        # self-contained: shipped by value to the Python workers
        import random

        from fact_extraction_spark.fixtures import _filler_paragraphs

        tail = "\n\n== References =="
        for pdf in batches:
            html = []
            for raw, url in zip(pdf["html"], pdf["url"]):
                text = raw.decode("utf-8")
                if "{{Infobox person" in text and tail in text:
                    person = url.rsplit("/", 1)[1]
                    rng = random.Random(f"{seed}:fat:{person}")
                    filler = _filler_paragraphs(rng, person.split("_")[0],
                                                fat_kb * 1024)
                    head, sep, rest = text.rpartition(tail)
                    text = (head + "\n\n" + "\n\n".join(
                        " ".join(p) for p in filler) + sep + rest)
                html.append(text.encode("utf-8"))
            yield pdf.assign(html=html, text="")

    # hashed by url, so the files hold the same pages whatever session
    # configuration read the thin pages
    (pages.repartition(FAT_FILES, "url")
     .mapInPandas(pad, schema=pages.schema)
     .withColumn("html", strip_anchors(F.col("html")))
     .write.mode("overwrite")
     .parquet(out))


def generate(spark, out: str, seed: int, persons: int,
             fat_kb: int | None) -> tuple[str, str | None]:
    """Write one seed's inputs under ``out``. Returns the thin corpus
    directory and the fat pages' parquet (None without ``fat_kb``)."""
    thin = os.path.join(out, "thin")
    write_thin(spark, thin, seed, persons)
    if fat_kb is None:
        return thin, None
    fat = os.path.join(out, "fat_pages.parquet")
    write_fat(spark, fat, thin, seed, fat_kb)
    return thin, fat
