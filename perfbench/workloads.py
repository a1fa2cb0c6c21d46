"""Seeded input generators and the cleanroom oracle for the benchmark.

Every input is a function of the seed alone.  The program under test only
receives the generated documents tables (``repo, path, commit, lang,
content``); the oracle side replays the same rows through ``cleanroom``,
which shares no code with the engine.

* ``bulk_corpus``: a balanced corpus of the fixture pages
  ``fixtures.corpus_from_documents`` derives (3-8 revisions per page) from
  a seeded documents table whose doc ids start at a seed-derived offset.
  Pages are kept so that each of a seed-chosen set of entity buckets holds
  the same number of pages.
* ``hot_page_rows``: one page with a long history whose property values flip
  back and forth inside the 4-week revert window, so revert tagging pairs
  real reverts.
* ``advance_rows``: one new revision for every page of the given pages,
  derived from the page's last revision.
"""

from __future__ import annotations

import json
import os
import random
import tempfile
from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from cleanroom import replay_corpus
from widiff_spark import fixtures
from widiff_spark.canonical import WD_ENTITY_TYPES, WD_STRING_TYPES
from widiff_spark.checkpoint import bucket_col
from widiff_spark.materialize import N_ENTITY_BUCKETS
from widiff_spark.schema import DOCUMENTS_SCHEMA, TABLE_PKS

DOC_COLUMNS = ["repo", "path", "commit", "lang", "content"]
_VOCAB = [f"{a}{b}" for a in ("spark", "graph", "wiki", "data", "edit", "page",
                              "claim", "value", "rank", "ref")
          for b in ("", "s", "er", "ing", "ed", "ful", "ly", "ness")]


def seeded_documents(rng: random.Random, offset: int,
                     n_docs: int) -> pd.DataFrame:
    """A documents table (``doc_id``, ``text``) of the shape
    ``fixtures.corpus_from_documents`` derives pages from: doc ids
    ``offset .. offset + n_docs`` with seeded text."""
    texts = [" ".join(rng.choice(_VOCAB) for _ in range(rng.randint(10, 100)))
             for _ in range(n_docs)]
    return pd.DataFrame({"doc_id": range(offset, offset + n_docs),
                         "text": texts})


def page_buckets(spark: SparkSession, rows: pd.DataFrame) -> pd.DataFrame:
    """(repo, path, bucket) of every page, by the engine's own formula."""
    pages = rows[["repo", "path"]].drop_duplicates()
    with tempfile.TemporaryDirectory() as tmp:
        pages.to_parquet(f"{tmp}/pages.parquet", index=False)
        return (spark.read.parquet(tmp)
                .select("repo", "path", bucket_col().alias("bucket"))
                .toPandas())


def bulk_corpus(spark: SparkSession, seed: int, n_buckets: int,
                pages_per_bucket: int) -> tuple[pd.DataFrame, list[int]]:
    """Balanced fixture corpus: the first ``pages_per_bucket`` pages (in doc
    order) of each of ``n_buckets`` seed-chosen buckets.  Doc ids start at a
    seed-derived offset and are drawn in blocks until every bucket fills.

    Pages come from the batch function ``corpus_from_documents`` maps over
    a documents table, run in this process: the same rows, without a Spark
    job per block."""
    rng = random.Random(seed)
    buckets = sorted(rng.sample(range(N_ENTITY_BUCKETS), n_buckets))
    offset = 1_000_000 + rng.randrange(10_000) * 10_000
    block = 2 * N_ENTITY_BUCKETS * pages_per_bucket
    found = []
    for k in range(4):
        docs = seeded_documents(rng, offset + k * block, block)
        rows = pd.concat(list(fixtures._corpus_batches(iter([docs]))),
                         ignore_index=True)
        found.append(rows.merge(page_buckets(spark, rows),
                                on=["repo", "path"]))
        pdf = pd.concat(found, ignore_index=True)
        pdf = pdf[pdf["bucket"].isin(buckets)]
        pages = (pdf[["repo", "path", "bucket"]].drop_duplicates()
                 .assign(n=lambda d: d["path"].str[1:].astype(int))
                 .sort_values("n").groupby("bucket").head(pages_per_bucket))
        if (pages.groupby("bucket").size() == pages_per_bucket).sum() \
                == n_buckets:
            rows = pdf.merge(pages[["repo", "path"]], on=["repo", "path"])
            return (rows.sort_values(["repo", "path", "commit"])
                    .reset_index(drop=True)[DOC_COLUMNS + ["bucket"]],
                    buckets)
    raise RuntimeError(f"{n_buckets} buckets did not fill with "
                       f"{pages_per_bucket} pages each")


def hot_page_rows(rng: random.Random, path: str, repo: str, first_rid: int,
                  n_revisions: int) -> list[dict]:
    """A page with ``n_revisions`` hourly revisions.  Each revision may move
    the population among a few values and the title among a few strings, so
    a value often comes back within hours of being replaced: the revert
    window (4 weeks) pairs those reverts."""
    amounts = [f"+{rng.randrange(1000, 9999)}" for _ in range(4)]
    titles = [f"hot title {k}" for k in range(3)]
    amount, title = amounts[0], titles[0]
    rows = []
    for i in range(n_revisions):
        if rng.random() < 0.35:
            amount = rng.choice(amounts)
        if rng.random() < 0.15:
            title = rng.choice(titles)
        rid = first_rid + i
        claims = {
            "P31": [fixtures.statement(f"{path}$S1",
                                       fixtures.entity_snak("P31", "Q5"))],
            "P1082": [fixtures.statement(
                f"{path}$S2", fixtures.quantity_snak("P1082", amount))],
            "P1476": [fixtures.statement(
                f"{path}$S3", fixtures.string_snak("P1476", title))],
        }
        bot = i % 3 == 0
        rows.append(fixtures.row(path, rid, fixtures.content(
            rid, fixtures._ts(i // 24, i % 24), claims=claims,
            label=f"hot page {path}", username="HotBot" if bot else "Editor",
            user_id=str(i % 5),
            comment="Undid revision" if rng.random() < 0.05 else "edit"),
            repo=repo))
    return rows


def advance_rows(last_rows: pd.DataFrame, rid_step: int, day: int) -> list[dict]:
    """One new revision per page, derived from the page's last revision:
    the population (P1082) moves and the description changes.  Pages whose
    last revision is deleted, undecodable or a redirect get none."""
    out = []
    for r in last_rows.itertuples(index=False):
        if r.lang != "wikidata-json":
            continue
        try:
            doc = json.loads(r.content)
        except ValueError:
            continue
        if "redirect" in doc:
            continue
        old_rid = int(doc["meta"]["revision_id"])
        rid = old_rid + rid_step
        claims = doc.get("claims") or {}
        stmts = claims.get("P1082")
        if stmts:
            amount = stmts[0]["mainsnak"]["datavalue"]["value"]["amount"]
            stmts[0]["mainsnak"] = fixtures.quantity_snak(
                "P1082", f"+{int(amount) + 1}")
        else:
            claims["P1082"] = [fixtures.statement(
                f"{r.path}$ADV", fixtures.quantity_snak("P1082", "+1"))]
        doc["claims"] = claims
        doc["descriptions"] = {"en": {"language": "en",
                                      "value": f"advanced {rid}"}}
        doc["meta"].update(revision_id=rid, parent_id=old_rid,
                           timestamp=fixtures._ts(day, int(rid % 24)),
                           comment="advance")
        out.append(fixtures.row(r.path, rid, json.dumps(doc), repo=r.repo))
    return out


def write_docs(spark: SparkSession, rows: pd.DataFrame, path: str,
               n_files: int = 4) -> DataFrame:
    """The generated rows as the parquet table the program reads, written
    by pyarrow in ``n_files`` files (one scan task each)."""
    os.makedirs(path, exist_ok=True)
    table = rows[DOC_COLUMNS].reset_index(drop=True)
    for k, idx in enumerate(np.array_split(np.arange(len(table)), n_files)):
        table.iloc[idx].to_parquet(f"{path}/part-{k:03d}.parquet",
                                   index=False)
    return spark.read.schema(DOCUMENTS_SCHEMA).parquet(path)


def triple_key(subj, pred, obj, action, revision_id, timestamp) -> tuple:
    """The identity of one change triple as ``pipeline.triples`` projects
    it: (subj, pred, obj, action, revision_id, timestamp)."""
    return (int(subj), int(pred), obj, action, int(revision_id), timestamp)


def _triple_obj(row: dict):
    new = row["new_value"]
    return new if new is not None and new != "{}" else row["old_value"]


def row_key(values) -> tuple:
    """A row's checked values as strings, as Spark casts them (nulls stay
    None), so engine and oracle rows compare exactly."""
    return tuple(None if v is None or v != v else str(v) for v in values)


_STATS_NUMS = (
    "num_revisions", "num_value_changes", "num_value_change_creates",
    "num_value_change_deletes", "num_value_change_updates",
    "num_rank_changes", "num_rank_creates", "num_rank_deletes",
    "num_rank_updates", "num_qualifier_changes", "num_reference_changes",
    "num_datatype_metadata_changes", "num_datatype_metadata_creates",
    "num_datatype_metadata_deletes", "num_datatype_metadata_updates",
    "num_bot_edits", "num_anonymous_edits", "num_human_edits",
    "num_reverted_edits", "num_reversions", "num_reverted_edits_create",
    "num_reverted_edits_delete", "num_reverted_edits_update",
    "num_revisions_timed", "num_feature_creations_timed")
_FEATURE_KEY = ("revision_id", "property_id", "value_id", "old_value",
                "new_value")

# per materialized table, the columns compared row by row with the oracle:
# the primary key and action of each change table, every entity_stats
# column the cleanroom replays but the wall-clock timings
# (``total_*_sec``), and the identity of every feature row
CHECKED = {
    "revision": ("revision_id", "entity_id", "prev_revision_id", "timestamp",
                 "user_type"),
    "qualifier_change": (*TABLE_PKS["qualifier_change"], "action"),
    "reference_change": (*TABLE_PKS["reference_change"], "action"),
    "datatype_metadata_change": (*TABLE_PKS["datatype_metadata_change"],
                                 "action"),
    "entity_stats": ("repo", "entity_id", "entity_label", "entity_types_31",
                     "file_path", "first_revision_timestamp",
                     "last_revision_timestamp", *_STATS_NUMS),
    **{f"features_{kind}": _FEATURE_KEY for kind in (
        "text", "time", "quantity", "globecoordinate", "entity")},
}

# the value_change UPDATE rows each feature table holds, by datatype
_FEATURE_TYPES = {
    "features_text": set(WD_STRING_TYPES),
    "features_time": {"time"},
    "features_quantity": {"quantity"},
    "features_globecoordinate": {"globecoordinate"},
    "features_entity": set(WD_ENTITY_TYPES),
}


class Oracle:
    """Cleanroom replay of one generated corpus, computed once per seed
    outside every timed window: the change triples and, per table in
    ``CHECKED``, the multiset of its checked values (feature tables only
    with ``features``)."""

    def __init__(self, rows: pd.DataFrame, features: bool):
        out = replay_corpus(rows[DOC_COLUMNS].to_dict("records"))
        vc = [r for r in out["value_change"] if r["change_target"] == ""]
        self.triples = Counter(
            triple_key(r["entity_id"], r["property_id"], _triple_obj(r),
                       r["action"], r["revision_id"], r["timestamp"])
            for r in vc)
        self.rows = {t: Counter(row_key(r[c] for c in CHECKED[t])
                                for r in out[t])
                     for t in CHECKED if t in out}
        if features:
            updates = [r for r in vc if r["action"] == "UPDATE"
                       and r["new_datatype"] == r["old_datatype"]]
            for t, types in _FEATURE_TYPES.items():
                self.rows[t] = Counter(
                    row_key(r[c] for c in _FEATURE_KEY)
                    for r in updates if r["new_datatype"] in types)


def precision_recall(engine: Counter, oracle: Counter) -> tuple[float, float]:
    """Multiset precision and recall of engine triples against the oracle."""
    hit = sum((engine & oracle).values())
    n_engine, n_oracle = sum(engine.values()), sum(oracle.values())
    precision = hit / n_engine if n_engine else float(n_oracle == 0)
    recall = hit / n_oracle if n_oracle else float(n_engine == 0)
    return precision, recall
