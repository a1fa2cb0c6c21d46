"""Hot-page-immune execution mode: pair-then-salt (SURVEY.md §7.3).

The grouped mode (diff.extract_changes) replays each page sequentially inside
one task — correct and cheap at 10^6 pages, but a 60k-revision hot page (the
reference's own sandbox-entity skew, general_analysis.py:367-369) pins a
single core for the whole replay.  This module removes that bound: the page
replay decomposes into

  1. ANNOTATE (``annotate_parsed``, mapInPandas, row-parallel): each parsed
     revision's comparable-projection hash, its redirect / cleaned /
     alias-only flags and its W4 label and alias.
  2. KEEP + PAIR (``kept_pairs``, one page window):  a revision advances
     the diff predecessor iff it is the page's first parse-ok revision, a
     redirect, a cleaned (fully emptied) revision, or its *comparable
     projection* differs from the previous candidate's.  The projection —
     (label, description, claims as {pid: {sid: [value_hash, rank,
     qualifier-hash-sets, reference-key-sets]}}) — captures EXACTLY the
     reference's ``changed`` predicate (page_parser.py:1890-1953): every
     setter of ``changed`` reads only projected fields, and projection
     equality is transitive, so lag-dedup against the previous *candidate*
     equals dedup against the previous *kept* revision.  lag(snapshot) over
     the kept revisions then gives each row its (prev, curr) pair.
  3. PAIR DIFF (``make_pair_diff_udf``, mapInPandas, row-parallel — the
     skew killer): ``PageDiffer.diff_revision``/``store_revision`` per
     pair, rows written by the grouped mode's columnar writer; a
     60k-revision page becomes 60k independent rows spread over the cluster.
  4. REVERT TAGGING (``_tag_udf``, applyInPandas over (page, property,
     value) — far finer than pages): the unmodified
     revert.tag_reverted_edits per group.
  5. ENTITY STATS (``_entity_stats``): one page aggregation over the
     pair-diff rows (counters), one over the annotated stream (page set, W4
     label, timed revisions), the revert-stat rows of stage 4 and a P31
     type-set replay (``_p31_replay_udf``) over only the P31 statement
     rows; the payload JSON is built in the JVM.

Output is row-identical to the grouped mode (tests/test_salted_parity.py
proves equality on the edge-case corpus incl. the hot page and on the
derived driver corpus), except the diagnostic ``total_*_time_sec`` payload
fields, which are 0.0 here (they time a loop that no longer exists).

Cost trade (measured, local[16], 8000-revision/61-statement hot page):
grouped replays the page in ONE task (13.7 s end-to-end); salted runs the
same replay as ~8000 independent pair rows across all cores (pair-diff
stage 7.6 s) at the price of two snapshot shuffles + the label-stamp join
(18.9 s end-to-end locally).  The remaining sequential floor in BOTH modes
is the revert scan of one (property, value) history — bounded by the 4-week
window since revert.py's early exit.  On one shared box the shuffle tax
outweighs the spread; on a real cluster the grouped mode's hot-page task
bounds the whole stage (minutes of idle executors at 10^12 scale) while
salted's critical path is the window-bounded tag scan only.  Round 4:
``run_pipeline(mode='auto')`` (the default) probes max-revisions-per-page
and flips to this mode above WIDIFF_SKEW_THRESHOLD (default 40k — the
measured local[32] crossover; BENCH/BASELINE.md round-4 section).
"""
from __future__ import annotations

import hashlib
import json
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F, types as T

from . import canonical as C
from .config import DEFAULT_CONFIG, PipelineConfig
from .diff import (PageDiffer, TypeSet, _UNIFIED_COLUMNS, _emit_rows,
                   _prep_revisions)
from .revert import tag_reverted_edits
from .schema import ENTITY_STATS_SCHEMA, UNIFIED_SCHEMA


def state_key(digest: dict | None) -> str | None:
    """sha1 of the comparable projection (see module docstring).

    Excludes aliases/sitelinks (alias-only revisions never set ``changed``),
    raw_* fields (first-revision-only), and datatype metadata (covered by
    the statement value_hash — metadata lives inside the hashed datavalue).
    Duplicate statement ids collapse last-wins exactly like the reference's
    ``{s['id']: s}`` dicts (page_parser.py:1758-1781).
    """
    if digest is None:
        return None
    claims_proj = {}
    for pid, stmts in digest["claims"].items():
        by_sid = {}
        for s in stmts:
            by_sid[str(s["sid"])] = [
                s["hash"], s["rank"],
                {qp: sorted(h for h, _v, _d in lst)
                 for qp, lst in (s["quals"] or {}).items()},
                sorted([rh, rp, vh] for rh, rp, vh, _v, _d in (s["refs"] or [])),
            ]
        claims_proj[pid] = by_sid
    proj = {"label": digest["label"], "description": digest["description"],
            "claims": claims_proj}
    return hashlib.sha1(json.dumps(proj, sort_keys=True)
                        .encode("utf-8")).hexdigest()


def _digest_flags(digest: dict | None) -> tuple[bool, bool, bool]:
    """(is_redirect, is_cleaned, is_alias_only) from a digest."""
    if digest is None:
        return False, False, False
    if digest["redirect"]:
        return True, False, False
    if not digest["has_claims"] and not digest["has_labels"] \
            and not digest["has_descs"]:
        if digest["has_aliases"] or digest["has_sitelinks"]:
            return False, False, True
        return False, True, False
    return False, False, False


def annotate_parsed(parsed: DataFrame) -> DataFrame:
    """Add the salted-mode row-parallel columns to the parsed stream:
    state_key / is_redirect / is_cleaned / is_alias_only / w4 label+alias."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keys, red, clean, alias_only, labels, aliases = [], [], [], [], [], []
            for snap, ok in zip(pdf["snapshot"], pdf["parse_ok"]):
                digest = json.loads(snap) if ok and snap else None
                keys.append(state_key(digest))
                r, c, a = _digest_flags(digest)
                red.append(r)
                clean.append(c)
                alias_only.append(a)
                labels.append((digest or {}).get("label") or "")
                aliases.append((digest or {}).get("alias") or "")
            pdf = pdf.copy()
            pdf["state_key"] = keys
            pdf["is_redirect"] = red
            pdf["is_cleaned"] = clean
            pdf["is_alias_only"] = alias_only
            pdf["w4_label"] = labels
            pdf["w4_alias"] = aliases
            yield pdf
    schema = (", ".join(f"{f.name} {f.dataType.simpleString()}"
                        for f in parsed.schema.fields)
              + ", state_key string, is_redirect boolean, is_cleaned boolean,"
                " is_alias_only boolean, w4_label string, w4_alias string")
    return parsed.mapInPandas(run, schema=schema)


def kept_pairs(annotated: DataFrame) -> DataFrame:
    """Candidate filter + keep decision + (prev, curr) pairing, all over one
    page window.

    The page's FIRST parse-ok revision takes the created-entity path before
    any branch dispatch (page_parser.py:1890-1893) — it is kept and becomes
    the predecessor even if alias/sitelink-only; only NON-first alias-only
    revisions are skipped (and they never advance the predecessor, so they
    leave the comparison chain entirely)."""
    w = Window.partitionBy("repo", "path").orderBy("commit")
    first = F.col("__rn") == 1
    chain = (annotated.filter(F.col("parse_ok") & (~F.col("is_deleted")))
             .withColumn("__rn", F.row_number().over(w))
             .filter(first | (~F.col("is_alias_only")))
             .withColumn("__prev_key", F.lag("state_key").over(w)))
    kept = chain.filter(first | F.col("is_redirect") | F.col("is_cleaned")
                        | (F.col("state_key") != F.col("__prev_key")))
    prev_rid = F.lag("revision_id").over(w)
    return kept.select(
        *annotated.columns,
        F.lag("snapshot").over(w).alias("prev_snapshot"),
        F.coalesce(prev_rid, F.lit(-1)).alias("prev_revision_id"),
        prev_rid.isNull().alias("is_first"))


# internal pair-diff output = unified columns + replay-ordering carriers.
# StructType.add mutates in place — build a fresh struct, never touch the
# shared UNIFIED_SCHEMA
_PAIR_OUT_SCHEMA = T.StructType(
    list(UNIFIED_SCHEMA.fields)
    + [T.StructField("commit", T.StringType()),
       T.StructField("emit_idx", T.IntegerType())])


def make_pair_diff_udf(config: PipelineConfig = DEFAULT_CONFIG):
    """Row-parallel pair diff: one output block per (prev, curr) pair.

    Output = UNIFIED columns (entity_label left empty — stamped later from
    the page dim) + commit + emit_idx carriers for the downstream replay
    ordering; value rows additionally carry comment for the revert-tagging
    stage.
    """
    out_columns = [f.name for f in _PAIR_OUT_SCHEMA.fields]

    def pair_diff(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # rows arrive page-partitioned and commit-ordered (the pair window's
        # own shuffle), so the previous row's decoded curr IS this row's
        # prev: one decode per revision, like the grouped replay (a
        # string-equality check guards page boundaries / reordered input)
        last_raw: str | None = None
        last_digest: dict | None = None
        for pdf in batches:
            out: dict = {c: [] for c in _UNIFIED_COLUMNS}
            commits: list = []
            emit_idx: list = []
            for rec in _prep_revisions(pdf.to_dict("records")):
                raw_prev = rec["prev_snapshot"]
                if rec["is_first"] or raw_prev is None:
                    prev = None
                elif raw_prev == last_raw:
                    prev = last_digest
                else:
                    prev = C.fast_json_loads(raw_prev)
                digest = rec["digest"]
                differ = PageDiffer(rec["repo"], int(rec["entity_id"]),
                                    config)
                differ.diff_revision(rec, digest, prev)
                # kept revisions always store (the keep decision already
                # saw the change)
                differ.store_revision(rec["prev_revision_id"], digest)
                for row in differ.value_rows:
                    row["comment"] = rec["comment"]
                n = _emit_rows(out, rec["repo"], None, differ.change_rows())
                commits.extend([rec["commit"]] * n)
                emit_idx.extend(range(n))
                last_raw, last_digest = rec["snapshot"], digest
            out["commit"] = commits
            out["emit_idx"] = emit_idx
            yield pd.DataFrame(out, columns=out_columns)
    return pair_diff


def _tag_udf(config: PipelineConfig):
    """Revert tagging per (repo, entity_id, property_id, value_id) group —
    the unmodified sequential scan, on a key far finer than pages."""

    def tag(key, pdf: pd.DataFrame) -> pd.DataFrame:
        changes_by_pv = {}
        value_rows = []
        pdf = pdf.sort_values(["commit", "emit_idx"], kind="mergesort")
        for rec in pdf.to_dict("records"):
            pv_key = (rec["property_id"], rec["value_id"],
                      rec["change_target"])
            changes_by_pv.setdefault(pv_key, []).append({
                "timestamp": rec["timestamp"],
                "old_hash": rec["old_hash"] or "",
                "new_hash": rec["new_hash"] or "",
                "old_value": rec["old_value"],
                "new_value": rec["new_value"],
                "comment": rec["comment"] or "",
                "change_target": rec["change_target"],
                "revision_id": rec["revision_id"],
                "action": rec["action"],
            })
            value_rows.append({
                "_key": (rec["revision_id"], rec["property_id"],
                         rec["value_id"], rec["change_target"]),
                "revision_id": rec["revision_id"],
                "property_id": rec["property_id"],
                "value_id": rec["value_id"],
                "change_target": rec["change_target"],
            })
        tagged, stats = tag_reverted_edits(changes_by_pv, value_rows,
                                           config.time_threshold_seconds)
        rows = [{"revision_id": r["revision_id"],
                 "property_id": r["property_id"],
                 "value_id": r["value_id"],
                 "change_target": r["change_target"],
                 "is_reverted": r["is_reverted"],
                 "reversion": r["reversion"],
                 "reversion_timestamp": r["reversion_timestamp"],
                 "revision_id_reversion": r["revision_id_reversion"],
                 "repo": None, "entity_id": None, "stats_json": None}
                for r in tagged]
        # one marker row carries the group's revert-stat contributions
        rows.append({"revision_id": None, "property_id": None,
                     "value_id": None, "change_target": None,
                     "is_reverted": None, "reversion": None,
                     "reversion_timestamp": None,
                     "revision_id_reversion": None,
                     "repo": key[0], "entity_id": key[1],
                     "stats_json": json.dumps(stats)})
        return pd.DataFrame(rows)
    return tag


_TAG_SCHEMA = ("revision_id long, property_id int, value_id string, "
               "change_target string, is_reverted int, reversion int, "
               "reversion_timestamp string, revision_id_reversion long, "
               "repo string, entity_id long, stats_json string")

_REVERT_STATS = ("num_reverted_edits", "num_reversions",
                 "num_reverted_edits_create", "num_reverted_edits_delete",
                 "num_reverted_edits_update")


def _p31_replay_udf():
    """entity_types_31 per page: the running (sid, value) type-set replay
    over only the P31 statement-value rows, in (commit, emit_idx) order —
    every _types_add/_types_remove in the reference coincides with an
    emitted P31 row (diff.py call sites), so the row stream is a complete
    event log of the type set."""
    def stored(ser):  # inverse of canonical.serialize_or_empty
        return None if ser == "{}" else json.loads(ser)

    def replay(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["commit", "emit_idx"], kind="mergesort")
        types = TypeSet()
        for rec in pdf.to_dict("records"):
            action = rec["action"]
            if action in ("DELETE", "UPDATE"):
                types.remove(rec["value_id"], stored(rec["old_value"]))
            if action in ("CREATE", "UPDATE"):
                types.add(rec["value_id"], stored(rec["new_value"]))
        return pd.DataFrame([{"repo": key[0], "entity_id": key[1],
                              "entity_types_31": types.render()}])
    return replay


def _stat_counters() -> list[tuple[str, str, dict]]:
    """(entity_stats counter, table, {column: value}) for every counter the
    pair-diff rows carry — what the grouped replay counts at emit time."""
    counters = [("num_revisions", "revision", {}),
                ("num_qualifier_changes", "qualifier_change", {}),
                ("num_reference_changes", "reference_change", {})]
    counters += [(f"num_{u}_edits", "revision", {"user_type": u})
                 for u in ("bot", "anonymous", "human")]
    for table, where, total, per_action in (
            ("value_change", {"change_target": ""}, "num_value_changes",
             "num_value_change_{}s"),
            ("value_change", {"change_target": "rank"}, "num_rank_changes",
             "num_rank_{}s"),
            ("datatype_metadata_change", {}, "num_datatype_metadata_changes",
             "num_datatype_metadata_{}s")):
        counters.append((total, table, where))
        counters += [(per_action.format(a.lower()), table,
                      {**where, "action": a})
                     for a in ("CREATE", "DELETE", "UPDATE")]
    return counters


def _pages(annotated: DataFrame) -> DataFrame:
    """Every page of the annotated stream with its W4 entity_label (last
    non-empty label, else last non-empty alias) and timed-revision count."""
    ok = F.col("parse_ok") & (~F.col("is_deleted"))

    def last_nonempty(c):
        return F.max(F.when(ok & (F.col(c) != ""),
                            F.struct("commit", c)))[c]
    return annotated.groupBy("repo", "entity_id").agg(
        F.count(F.when(ok, 1)).alias("num_revisions_timed"),
        F.coalesce(last_nonempty("w4_label"), last_nonempty("w4_alias"),
                   F.lit("")).alias("entity_label"))


def _entity_stats(pages: DataFrame, diffed: DataFrame,
                  tagged: DataFrame) -> DataFrame:
    """(repo, entity_id, entity_label, payload) per page — every page gets a
    row, even with zero kept revisions (grouped mode instantiates a
    PageDiffer per page unconditionally)."""
    page = ["repo", "entity_id"]
    col = {c: F.col(c) for c in ("table", "change_target", "action",
                                 "user_type")}
    is_rev = col["table"] == "revision"
    counts = []
    for name, table, where in _stat_counters():
        cond = col["table"] == table
        for c, v in where.items():
            cond = cond & (col[c] == v)
        counts.append(F.count(F.when(cond, 1)).alias(name))
    diff_counts = diffed.groupBy(*page).agg(
        *counts,
        F.min_by(F.when(is_rev, F.col("timestamp")),
                 F.when(is_rev, F.col("commit")))
        .alias("first_revision_timestamp"),
        F.max_by(F.when(is_rev, F.col("timestamp")),
                 F.when(is_rev, F.col("commit")))
        .alias("last_revision_timestamp"))

    revert_stats = (tagged.filter(F.col("stats_json").isNotNull())
                    .select(*page, F.from_json(
                        "stats_json",
                        ", ".join(f"{c} int" for c in _REVERT_STATS))
                        .alias("s"))
                    .groupBy(*page)
                    .agg(*[F.sum(f"s.{c}").alias(c) for c in _REVERT_STATS]))

    p31 = (diffed.filter((F.col("table") == "value_change")
                         & (F.col("property_id") == 31)
                         & (F.col("change_target") == ""))
           .select(*page, "value_id", "action", "old_value", "new_value",
                   "commit", "emit_idx")
           .groupBy(*page)
           .applyInPandas(_p31_replay_udf(),
                          schema="repo string, entity_id long, "
                                 "entity_types_31 string"))

    stats = (pages.join(diff_counts, page, "left")
             .join(revert_stats, page, "left")
             .join(p31, page, "left"))
    # the grouped payload's keys and values, in ENTITY_STATS_SCHEMA order;
    # the per-page timings are 0.0 here (there is no page loop to time)
    given = {"file_path": F.col("repo"),
             "entity_types_31": F.coalesce("entity_types_31", F.lit(""))}
    as_is = {"entity_id", "entity_label", "first_revision_timestamp",
             "last_revision_timestamp"}
    counted = set(stats.columns)
    fields = []
    for f in ENTITY_STATS_SCHEMA.fields:
        if f.name in given:
            v = given[f.name]
        elif f.name in as_is:
            v = F.col(f.name)
        elif f.name in counted:
            v = F.coalesce(f.name, F.lit(0))
        else:
            v = F.lit(0)
        fields.append(v.cast(f.dataType.simpleString()).alias(f.name))
    return stats.select(*page, "entity_label", F.to_json(
        F.struct(*fields), {"ignoreNullFields": "false"}).alias("payload"))


def _to_unified(df: DataFrame) -> DataFrame:
    """``df``'s columns in UNIFIED_SCHEMA order, typed nulls for the rest."""
    have = set(df.columns)
    return df.select(*[f.name if f.name in have
                       else F.lit(None).cast(f.dataType.simpleString())
                       .alias(f.name)
                       for f in UNIFIED_SCHEMA.fields])


def salted_changes(parsed: DataFrame, config: PipelineConfig = DEFAULT_CONFIG
                   ) -> tuple[DataFrame, list[DataFrame]]:
    """The salted unified stream and the intermediates it persists; the
    caller unpersists those once the stream has been consumed."""
    spark = parsed.sparkSession
    annotated = annotate_parsed(parsed)
    pairs = kept_pairs(annotated)

    # the pair window co-locates each page in ONE partition — exactly the
    # skew this mode exists to break.  Range-repartition on (page, commit):
    # a hot page splits across many tasks at range boundaries, while commit
    # runs stay contiguous so the pair-diff's decode cache keeps its 1-parse-
    # per-revision property.
    n_parts = max(spark.sparkContext.defaultParallelism * 2,
                  int(spark.conf.get("spark.sql.shuffle.partitions", "32")))
    diffed = pairs.select(
        "repo", "path", "commit", "entity_id", "revision_id", "timestamp",
        "username", "user_id", "comment", "parse_ok", "snapshot",
        "prev_snapshot", "prev_revision_id", "is_first"
    ).repartitionByRange(n_parts, "repo", "path", "commit") \
     .mapInPandas(make_pair_diff_udf(config), schema=_PAIR_OUT_SCHEMA)
    diffed = diffed.persist()

    # ---- revert tagging on (page, property, value) groups ----------------
    value_rows = diffed.filter(F.col("table") == "value_change")
    tagged = (value_rows
              .select("repo", "entity_id", "property_id", "value_id",
                      "change_target", "action", "old_value", "new_value",
                      "old_hash", "new_hash", "timestamp", "comment",
                      "revision_id", "commit", "emit_idx")
              .groupBy("repo", "entity_id", "property_id", "value_id")
              .applyInPandas(_tag_udf(config), schema=_TAG_SCHEMA))
    tagged = tagged.persist()

    # the grouped replay PK-dedups value rows last-emission-wins
    # (revert.tag_reverted_edits dict_lookup) — duplicate statement ids make
    # the created/new-pid/removed-pid paths emit the same PK twice; flags
    # are keyed by PK so deduping after the join is equivalent.  Entity
    # stats stay PRE-dedup (the reference counts at save_change time).
    pk = ["revision_id", "property_id", "value_id", "change_target"]
    flag_cols = ["is_reverted", "reversion", "reversion_timestamp",
                 "revision_id_reversion"]
    flags = tagged.filter(F.col("stats_json").isNull()) \
        .select(*pk, *flag_cols)
    w_pk = Window.partitionBy(*pk).orderBy(F.desc("commit"),
                                           F.desc("emit_idx"))
    value_tagged = (value_rows.drop(*flag_cols, "comment")
                    .withColumn("__pkr", F.row_number().over(w_pk))
                    .filter(F.col("__pkr") == 1)
                    .join(flags, pk, "left")
                    .fillna(0, ["is_reverted", "reversion"]))

    # persisted: the label stamp reads only entity_label, so column pruning
    # would otherwise plan a second copy of the aggregation (and a third
    # parse of every revision) instead of reusing this one
    pages = _pages(annotated).persist()
    stats = _entity_stats(pages, diffed, tagged)

    # ---- assemble the unified stream + stamp page entity_label -----------
    label_dim = pages.select("repo", "entity_id",
                             F.col("entity_label").alias("__el"))
    body = (_to_unified(diffed.filter(F.col("table") != "value_change"))
            .unionByName(_to_unified(value_tagged))
            .join(label_dim, ["repo", "entity_id"], "left")
            .withColumn("entity_label", F.col("__el")).drop("__el"))
    unified = body.unionByName(
        _to_unified(stats.withColumn("table", F.lit("entity_stats"))))
    return unified, [diffed, tagged, pages]


def extract_changes_salted(parsed: DataFrame,
                           config: PipelineConfig = DEFAULT_CONFIG
                           ) -> DataFrame:
    """Salted (pair-parallel) analog of diff.extract_changes: identical
    unified output stream, no per-page sequential stage on the hot path."""
    return salted_changes(parsed, config)[0]
