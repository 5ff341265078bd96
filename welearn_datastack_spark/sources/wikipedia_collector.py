"""Wikipedia URL collector — recency-windowed category walk with
``cmcontinue`` pagination, bounded subcategory recursion, and
50-title batched fr↔en translation lookup.

Reference: ``collectors/wikipedia_collector.py`` —
``get_last_page_titles_added_in_pages_container`` (:42-113: 10-day
window via ``cmstart``, categorymembers pagination, subcat recursion
bounded by ``depth``), ``get_page_translation`` (:115-151: langlinks,
50-title batches), ``collect`` (:153-215).

The category walk is control-flow over SMALL metadata (category
member listings, ≤500/page) and runs on the driver, exactly like the
reference's loop; the result set of URLs is what becomes a DataFrame
and flows into pipeline/url_ingest.insert_urls (S11 dedup +
https-only). At production scale the per-container walks are
independent — parallelize by distributing CONTAINERS (one per task
via a mapInPandas over the container table), not by distributing the
tiny page walk.

Deviations from the reference (documented):
- ``wikipedia_collector.py:107-112`` computes the subcat recursion
  with ``set.union`` and DISCARDS the result, so subcategory members
  never surface despite the depth parameter; here they are included
  (the evident intent).
- ``:196-208`` builds translated-title URLs under the SOURCE
  language's domain, yielding dead links (an fr title under
  en.wikipedia.org); here translated titles land under the TARGET
  language domain.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .tables import empty_frame

WIKIPEDIA_BASE_URL = "https://<lang>.wikipedia.org/"  # ref constants.py:203
RECENCY_DAYS = 10  # ref wikipedia_collector.py:44
TRANSLATION_BATCH = 50  # ref wikipedia_collector.py:188
PAGE_LIMIT = 500  # ref wikipedia_collector.py:56 cmlimit


@dataclass(frozen=True)
class WikipediaContainer:
    """ref data/wikipedia_container.py."""

    wikipedia_path: str
    depth: int
    lang: str


FetchFn = Callable[[dict], dict]
"""``fetch(params) -> api_json``. ``params`` always carries
``lang`` and ``action``; categorymembers requests add ``cmtitle``,
``cmstart``, ``cmlimit`` and optionally ``cmcontinue``; langlinks
requests add ``titles`` ('|'-joined) and ``lllang``. Tests inject
canned pages; production wraps an HTTP session."""


def _walk_category(
    fetch: FetchFn, container: WikipediaContainer, cmstart: str
) -> set[str]:
    """Paginated member walk + bounded subcat recursion
    (ref :42-113)."""
    params = {
        "lang": container.lang,
        "action": "categorymembers",
        "cmtitle": container.wikipedia_path,
        "cmsort": "timestamp",
        "cmdir": "newer",
        "cmprop": "ids|title|type",
        "cmstart": cmstart,
        "cmlimit": PAGE_LIMIT,
    }
    resp = fetch(dict(params))
    members = list(resp["query"]["categorymembers"])
    while resp.get("continue", {}).get("cmcontinue"):
        resp = fetch(dict(params, cmcontinue=resp["continue"]["cmcontinue"]))
        members.extend(resp["query"]["categorymembers"])

    titles: set[str] = set()
    subcats: set[WikipediaContainer] = set()
    for member in members:
        if member["type"] == "page":
            titles.add(member["title"].replace(" ", "_"))
        elif member["type"] == "subcat" and container.depth > 0:
            subcats.add(
                WikipediaContainer(
                    wikipedia_path=member["title"].replace(" ", "_"),
                    depth=container.depth - 1,
                    lang=container.lang,
                )
            )
    for subcat in subcats:
        titles |= _walk_category(fetch, subcat, cmstart)
    return titles


def _translate_batch(
    fetch: FetchFn, titles: list[str], from_lang: str, to_lang: str
) -> list[str]:
    """Langlinks batch lookup (ref :115-151)."""
    resp = fetch(
        {
            "lang": from_lang,
            "action": "langlinks",
            "titles": "|".join(titles),
            "lllang": to_lang,
        }
    )
    pages = resp["query"]["pages"]
    out = []
    for page in pages:
        for link in page.get("langlinks", []):
            if link.get("lang", "") == to_lang:
                out.append(link["title"].replace(" ", "_"))
    return out


def collect_wikipedia_urls(
    spark: SparkSession,
    containers: list[WikipediaContainer],
    fetch: FetchFn,
    corpus: str = "wikipedia",
    now: dt.datetime | None = None,
    translate: bool = True,
) -> DataFrame:
    """Collect fresh article URLs for every container → DataFrame of
    (url, corpus) rows (feeds S11 url_ingest dedup)."""
    now = now or dt.datetime(2026, 1, 1)
    cmstart = (now - dt.timedelta(days=RECENCY_DAYS)).strftime("%Y-%m-%dT%H:%M:%SZ")

    urls: list[str] = []
    for container in containers:
        titles = sorted(_walk_category(fetch, container, cmstart))
        to_lang = "en" if container.lang == "fr" else "fr"
        src_base = WIKIPEDIA_BASE_URL.replace("<lang>", container.lang)
        dst_base = WIKIPEDIA_BASE_URL.replace("<lang>", to_lang)
        for i in range(0, len(titles), TRANSLATION_BATCH):
            batch = titles[i : i + TRANSLATION_BATCH]
            urls.extend(f"{src_base}wiki/{t}" for t in batch)
            if translate and batch:
                for tt in _translate_batch(fetch, batch, container.lang, to_lang):
                    urls.append(f"{dst_base}wiki/{tt}")

    if not urls:
        return empty_frame(spark, "url string, corpus string")
    return (
        spark.createDataFrame([(u,) for u in urls], ["url"])
        .dropDuplicates(["url"])
        .withColumn("corpus", F.lit(corpus))
    )
