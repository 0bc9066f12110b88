"""Job profiles: the full enrichment-job spec as serializable JSON.

Analogue of the reference Profile (utils/config.py:169-216) + Session
(utils/session.py:17-98): one document that fully describes an
enrichment run — sources, key columns + options, ordered mappings,
batch filter — restorable across processes. The linkage pipeline has its
own ``PipelineConfig``; this covers the merge/enrichment side.
"""

from __future__ import annotations

import datetime as dt
import json
from dataclasses import asdict, dataclass, field
from pathlib import Path
from typing import Optional, Sequence

from datamatcher_spark.operators.merge import (
    ColumnMapping,
    RuleCondition,
    RuleOperator,
    WriteMode,
)


@dataclass
class SourceSpec:
    name: str
    path: str                       # parquet path or catalog table
    key_column: str
    key_options: dict = field(default_factory=dict)


@dataclass
class BatchFilterSpec:
    kind: str = "none"              # none|range|key_list|limit|regex
    start: int = 0
    end: int = 0
    keys: Sequence[str] = ()
    limit: int = 0
    pattern: str = ""


@dataclass
class Profile:
    name: str
    base: SourceSpec
    sources: list[SourceSpec]
    mappings: list[ColumnMapping]
    batch_filter: BatchFilterSpec = field(default_factory=BatchFilterSpec)
    updated_at: str = ""

    def to_json(self, path: str | Path) -> None:
        doc = {
            "name": self.name,
            "base": asdict(self.base),
            "sources": [asdict(s) for s in self.sources],
            "mappings": [_mapping_to_dict(m) for m in self.mappings],
            "batch_filter": {**asdict(self.batch_filter),
                             "keys": list(self.batch_filter.keys)},
            "updated_at": dt.datetime.now(dt.timezone.utc).isoformat(),
        }
        Path(path).write_text(json.dumps(doc, indent=2))

    @classmethod
    def from_json(cls, path: str | Path) -> "Profile":
        doc = json.loads(Path(path).read_text())
        return cls(
            name=doc["name"],
            base=SourceSpec(**doc["base"]),
            sources=[SourceSpec(**s) for s in doc["sources"]],
            mappings=[_mapping_from_dict(m) for m in doc["mappings"]],
            batch_filter=BatchFilterSpec(**doc.get("batch_filter", {})),
            updated_at=doc.get("updated_at", ""),
        )


def apply_batch_filter(df, bf: BatchFilterSpec, key_col: str):
    """Dispatch a BatchFilterSpec onto the P1-P4 operators."""
    from datamatcher_spark.operators.batchfilter import (
        filter_key_list,
        filter_key_regex,
        filter_limit,
        filter_range,
    )

    if bf.kind == "range":
        return filter_range(df, key_col, bf.start, bf.end)
    if bf.kind == "key_list":
        return filter_key_list(df, key_col, list(bf.keys))
    if bf.kind == "limit":
        return filter_limit(df, bf.limit, key_col)
    if bf.kind == "regex":
        return filter_key_regex(df, key_col, bf.pattern)
    return df


def profile_fingerprint(profile: "Profile") -> str:
    """Content hash of everything that determines a run's outputs —
    source paths, key columns + options, batch filter, ordered mappings.
    Stamped into every mid-job commit marker so a relaunch with the same
    work_dir but an EDITED profile restarts from scratch instead of
    silently resuming from parquet that no longer corresponds to the
    current spec (``updated_at`` is deliberately excluded)."""
    import hashlib

    doc = {
        "base": asdict(profile.base),
        "sources": [asdict(s) for s in profile.sources],
        "mappings": [_mapping_to_dict(m) for m in profile.mappings],
        "batch_filter": {**asdict(profile.batch_filter),
                         "keys": list(profile.batch_filter.keys)},
    }
    return hashlib.sha256(
        json.dumps(doc, sort_keys=True, default=str).encode()
    ).hexdigest()[:16]


def execute_profile(
    spark, profile: "Profile", *, load=None, work_dir: str | Path | None = None,
    export_change_log: bool = False, change_log_path: str | Path | None = None,
) -> tuple:
    """Run the enrichment job a Profile describes, end-to-end: load base,
    batch-filter, then per source (in list order) enrich-join + fold that
    source's mappings (bound by ``ColumnMapping.source_id``; an unbound
    mapping attaches to the first source, like the reference's default
    DataSource). Returns ``(result_df, sources_info, mappings_info)`` —
    the triple the report renderer consumes.

    ``load`` injects a path→DataFrame loader (tests pass in-memory
    frames); the default dispatches parquet vs. ``sources.ingest
    .load_file`` sniffing by extension.

    A source's key_options (or the base's, reference-style) may carry
    ``fuzzy_threshold < 1.0`` — the desktop fuzzy-matching toggle
    (gui/main_window.py:470-476): exact-probe misses are then retried via
    ``fuzzy_fallback_join`` (best Levenshtein-ratio candidate ≥ threshold
    over the source's variant keys, first-row-per-key semantics,
    core/data_source.py:287-321) before the mapping fold; rows that also
    miss fuzzy keep NO_MATCH lineage.

    ``work_dir`` enables MID-JOB RESUME — the enrichment-side analogue of
    the reference's persisted session position (utils/session.py:17-98),
    on the same ``lineage.StageCommits`` protocol as ``plans.run``'s
    stages: each completed source fold writes its output parquet, then
    ``commits/source_<i>.json`` carrying that source's report stats,
    stamped with ``profile_fingerprint``. A relaunch with the same
    work_dir restarts from the LAST COMMITTED source (reading its
    parquet, replaying its recorded stats) instead of refolding every
    source from scratch; a marker committed under another fingerprint
    (sources/keys/mappings/filter edited since) reads as absent — the
    job restarts cleanly rather than resuming stale parquet. Without
    ``work_dir`` the job is a single lazy plan.

    ``export_change_log=True`` additionally produces the reference's
    per-cell change-log artifact for the WHOLE run (the report dialog's
    export, gui/main_window.py:631 → core/reporter.py:118-136): each
    source is folded with ``retain_old=True`` and its NEW/CHANGED cells
    are captured BEFORE the next source overwrites the lineage columns,
    labeled with that source's filename in ``zrodlo``. The combined CSV
    is written to ``change_log_path`` (default ``work_dir/change_log.csv``
    when a work_dir is set). With a work_dir the per-source logs are
    parquet-committed alongside the markers, so the artifact stays
    COMPLETE across resume; without one the capture is lazy (each
    source's log re-derives its upstream folds at write time — fine at
    report scale, use a work_dir for big jobs).
    """
    from datamatcher_spark.operators.enrich import (
        enrich_join,
        fuzzy_fallback_join,
        match_stats,
    )
    from datamatcher_spark.operators.merge import apply_mappings
    from datamatcher_spark.operators.report_render import change_log
    from datamatcher_spark.plans.lineage import StageCommits

    from pyspark.sql import functions as F

    if export_change_log and change_log_path is None:
        if work_dir is None:
            raise ValueError(
                "export_change_log=True needs change_log_path or work_dir"
            )
        change_log_path = Path(work_dir) / "change_log.csv"

    if load is None:
        from datamatcher_spark.sources.ingest import load_file

        def load(path):
            p = str(path)
            if p.endswith(".parquet"):
                return spark.read.parquet(p)
            return load_file(spark, p)

    wd = Path(work_dir) if work_dir else None
    commits = StageCommits(wd / "commits", profile_fingerprint(profile)) if wd else None

    def _marker_doc(i: int) -> dict | None:
        """Committed marker for source i, or None when absent/stale.
        Beyond ``StageCommits``' fingerprint rule, a fold marker is stale
        when THIS run exports the change log and the committing run did
        NOT capture per-source logs (``change_log`` absent): resuming it
        would silently omit that source from the artifact, so the fold
        is redone instead. Pass-through markers (no bound mappings ⇒ no
        ``source_info``) never carry a log and stay valid either way."""
        doc = commits.read(f"source_{i}")
        if doc and export_change_log and doc.get("source_info") and not doc.get("change_log"):
            return None
        return doc

    def _out(i: int) -> str:
        return str(wd / f"source_{i}.parquet")

    def _clog_out(i: int) -> str:
        return str(wd / f"change_log_{i}.parquet")

    sources_info: list[dict] = []
    mappings_info: list[dict] = []
    change_logs: list = []  # one lazy DataFrame per folded source
    start = 0
    df = None
    if wd:
        for i in reversed(range(len(profile.sources))):
            doc = _marker_doc(i)
            if doc is not None:
                start = i + 1
                df = spark.read.parquet(_out(i))
                for j in range(i + 1):  # replay committed stats in order
                    doc_j = _marker_doc(j)
                    if doc_j is not None:
                        if doc_j.get("source_info"):
                            sources_info.append(doc_j["source_info"])
                        mappings_info += doc_j.get("mappings_info", [])
                        if export_change_log and doc_j.get("change_log"):
                            change_logs.append(spark.read.parquet(_clog_out(j)))
                break
    if df is None:
        base_key = profile.base.key_column
        df = apply_batch_filter(
            load(profile.base.path), profile.batch_filter, base_key
        )
    base_key = profile.base.key_column

    for i, spec in enumerate(profile.sources):
        if i < start:
            continue
        bound = [
            m
            for m in profile.mappings
            if m.source_id == spec.name or (not m.source_id and i == 0)
        ]
        if not bound:
            if wd:  # commit a pass-through marker so resume indexing holds
                df.write.mode("overwrite").parquet(_out(i))
                df = spark.read.parquet(_out(i))
                commits.write(f"source_{i}", source=spec.name)
            continue
        src = load(spec.path)
        opts = spec.key_options or profile.base.key_options
        st = match_stats(df, src, base_key, spec.key_column, opts)
        source_info = {
            "filename": Path(spec.path).name, "key_column": spec.key_column, **st
        }
        sources_info.append(source_info)
        joined = enrich_join(
            df, src, base_key, spec.key_column,
            bound[0].source_column or src.columns[0], key_options=opts,
        )
        # the reference's fuzzy fallback: key_options carrying
        # fuzzy_threshold < 1.0 (gui/main_window.py:470-476) retries every
        # exact-probe miss against the source's variant keys and takes the
        # best Levenshtein candidate ≥ threshold (core/matcher.py:246-252)
        fuzzy_threshold = float((opts or {}).get("fuzzy_threshold", 1.0))
        if fuzzy_threshold < 1.0:
            joined = fuzzy_fallback_join(
                joined, src, base_key, spec.key_column,
                threshold=fuzzy_threshold, key_options=opts,
            )
        folded = apply_mappings(
            joined, bound, matched=F.col("__matched"),
            retain_old=export_change_log,
        )
        minfo = [
            {
                "source_column": m.source_column or m.source_template,
                "target_column": m.target_column,
                "write_mode": m.write_mode.value,
                "source_name": source_info["filename"],
            }
            for m in sorted(bound, key=lambda m: m.priority)
            if m.enabled
        ]
        clog = None
        if export_change_log:
            # capture THIS source's transitions before the next fold
            # overwrites __change_/__old_; zrodlo = this source's file
            clog = change_log(folded, base_key, minfo)
            if not wd:
                change_logs.append(clog)
        # drop exactly the prefixed columns the enrich join ADDED — a base
        # table column legitimately named src_* must survive the fold
        added = {f"src_{c}" for c in src.columns}
        drop = [c for c in folded.columns if c in added]
        old_cols = [
            c for c in folded.columns
            if export_change_log and c.startswith("__old_")
        ]
        df = folded.drop("__matched", "__conflicts", "__fuzzy_score",
                         "__fuzzy_key", *drop, *old_cols)
        mappings_info += minfo
        if wd:
            # materialize + commit: marker written only AFTER the parquet
            # (and the change-log part) lands, so a crash mid-write
            # resumes from the prior source
            df.write.mode("overwrite").parquet(_out(i))
            df = spark.read.parquet(_out(i))
            if clog is not None:
                clog.write.mode("overwrite").parquet(_clog_out(i))
                change_logs.append(spark.read.parquet(_clog_out(i)))
            commits.write(f"source_{i}", source=spec.name,
                          source_info=source_info, mappings_info=minfo,
                          change_log=clog is not None)
    if export_change_log:
        from functools import reduce

        from datamatcher_spark.sources.ingest import write_csv_report

        combined = (
            reduce(lambda a, b: a.unionByName(b), change_logs)
            if change_logs
            else change_log(df, base_key, [])
        )
        write_csv_report(combined, change_log_path)
    return df, sources_info, mappings_info


def match_profile(
    filename: str,
    file_patterns: Sequence[dict],
    *,
    require_exists: bool = True,
) -> Optional[str]:
    """Auto-select the mapping profile for an incoming file — the
    reference's "drop a file, get the right mapping" hook
    (utils/config.py:153-168), with identical precedence rules:

    * patterns are tried in list order, FIRST match wins;
    * matching is ``re.search`` (substring, not anchored), IGNORECASE;
    * an invalid regex is skipped silently, never fatal;
    * an entry missing 'pattern' or 'profile' is skipped;
    * the profile file must exist on disk (skipped otherwise) unless
      ``require_exists=False`` — useful when profiles live in an object
      store the driver can't stat.

    Returns the profile path, or None when nothing matches.
    """
    import re

    for entry in file_patterns:
        pattern = entry.get("pattern")
        profile_path = entry.get("profile")
        if not pattern or not profile_path:
            continue
        try:
            if re.search(pattern, filename, re.IGNORECASE):
                if not require_exists or Path(profile_path).exists():
                    return profile_path
        except re.error:
            continue
    return None


def _mapping_to_dict(m: ColumnMapping) -> dict:
    return {
        "source_column": m.source_column,
        "target_column": m.target_column,
        "write_mode": m.write_mode.value,
        "transform": m.transform,
        "append_separator": m.append_separator,
        "priority": m.priority,
        "enabled": m.enabled,
        "output_name": m.output_name,
        "source_template": m.source_template,
        "condition_logic": m.condition_logic,
        "source_id": m.source_id,
        "conditions": [
            {
                "column": c.column,
                "operator": c.operator.value,
                "value": c.value,
                "is_source_column": c.is_source_column,
            }
            for c in m.conditions
        ],
    }


def _mapping_from_dict(d: dict) -> ColumnMapping:
    return ColumnMapping(
        source_column=d.get("source_column", ""),
        target_column=d.get("target_column", ""),
        write_mode=WriteMode(d.get("write_mode", "overwrite")),
        transform=d.get("transform"),
        append_separator=d.get("append_separator", " | "),
        priority=d.get("priority", 0),
        enabled=d.get("enabled", True),
        output_name=d.get("output_name", ""),
        source_template=d.get("source_template", ""),
        condition_logic=d.get("condition_logic", "AND"),
        source_id=d.get("source_id", ""),
        conditions=[
            RuleCondition(
                column=c["column"],
                operator=RuleOperator(c["operator"]),
                value=c.get("value", ""),
                is_source_column=c.get("is_source_column", True),
            )
            for c in d.get("conditions", [])
        ],
    )
