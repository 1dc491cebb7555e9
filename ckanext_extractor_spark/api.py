"""ExtractorEngine — the user-facing facade (SURVEY.md §2.8).

Reference API mapping (logic/action.py, paster.py):
    extractor_extract(id, force) -> Engine.extract(corpus, force=...)
    extractor_list()             -> Engine.list_indexed()
    extractor_show(id)           -> Engine.show(doc_id)
    extractor_delete(id)         -> Engine.delete(doc_ids)
    package_search(q=...)        -> Engine.search(query, k=...)

Index layout under ``index_root``. Every table is Parquet; each one kept
after a commit is written under ``fsio.PARQUET_WRITE_OPTIONS`` (zstd
pages, no statistics on the segments' ``blob``), and the staging
checkpoint under Spark's default codec. Parquet records the codec per
file, so tables written under another codec still read. An Iceberg
catalog slot-in would change only the read/write format strings:
    staging/raw_postings/<build_id>/   tokenize checkpoint (resume point),
                                       dropped once the generation commits
    gens/<gen_id>/segments/            encoded blobs, partitioned term_bucket
                                       into the generation's own bucket count
                                       (its ``n_buckets`` entry in the meta:
                                       one per TOKENS_PER_BUCKET tokens, at
                                       most the index-level n_buckets); the
                                       only stored copy of the postings
    gens/<gen_id>/docs/                (doc_id, doc_len) of the generation's
                                       docs; postings store ordinals into
                                       its sorted doc ids
    tombstones/                        (doc_id, seq): the doc's postings in
                                       every generation older than seq are
                                       dead; rows above the committed seq
                                       (a build that never committed) are
                                       ignored, then dropped
    doc_stats/                         per-doc metadata + doc_len
    corpus_stats/                      singleton N/avgdl row
    doc_manifest/                      status machine state
    lineage/                           per-partition build metrics
    index_meta.json                    structural config + generation list
                                       (gen id, seq, n_docs, n_buckets)
    .build_lock                        in-progress marker (B4 concurrency)

LSM-style maintenance (SURVEY.md Q6/B2; Lucene-segment analog — the
reference delegates this to Solr, tasks.py:110 / plugin.py:117-123):
an incremental build tokenizes + encodes ONLY the changed docs into a new
generation; updates/deletes append tombstones; a 1-doc delete touches
zero segment files. Deletes resolve once per index state, like Lucene's
per-segment liveDocs: from the tombstone table and the generation list
the driver builds every generation's live mask over its doc ordinals
(``codec.live_masks``; a doc lives only in the newest generation holding
it, and only while no later tombstone names it), and every decode, on
the driver or in a Spark task, drops dead postings through that mask.
Compaction merges generations whose dead fraction crosses a threshold
(or when generations pile up), bounding read amplification and the
tombstone table.

Lifecycle hooks re-express IExtractorPostprocessor
(interfaces.py:25-82, called at tasks.py:80-81,103-104,112-113) and
IExtractorRequest.extractor_before_request (interfaces.py:85-106):
    before_tokenize(corpus_df) -> corpus_df      (~ before_request)
    after_extract(postings_df) -> postings_df    (~ after_extract)
    after_save(manifest_df)    -> manifest_df    (~ after_save)
    after_index(engine)        -> None           (~ after_index)

Filesystem note: publish/lock/GC primitives route through
:mod:`ckanext_extractor_spark.fsio` — plain paths use POSIX os/shutil,
URI roots (hdfs://, s3a://, ...) use the JVM Hadoop FileSystem already on
Spark's classpath. Rename-based publish is atomic on POSIX and HDFS;
object stores without atomic rename copy (correct under the single-writer
build lock, but see fsio's module docstring for the reader-visible
window). Table reads/writes themselves are location-agnostic Spark IO.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from collections import OrderedDict
from contextlib import contextmanager
from functools import reduce

import numpy as np
from dataclasses import dataclass, field
from typing import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ckanext_extractor_spark.analysis.tokenizer import (
    INDEX_CONFIG,
    SIMPLE_CONFIG,
    AnalyzerConfig,
    analyze_query,
    query_config_for,
)
from ckanext_extractor_spark.fsio import FsIO, write_table
from ckanext_extractor_spark.manifest import (
    STATUS_IGNORED,
    STATUS_NEW,
    STATUS_UPDATE,
    STATUS_UNCHANGED,
    append_lineage,
    compute_statuses,
    lineage_from_raw,
    read_doc_manifest,
    read_lineage,
    tokenize_with_lineage,
)
from ckanext_extractor_spark.operators.build import (
    POSTINGS_SCHEMA,
    build_corpus_stats,
    build_dictionary,
    build_doc_stats,
    glob_filter_expr,
    prepare_corpus,
)
from ckanext_extractor_spark.operators.query import bm25_search
from ckanext_extractor_spark.operators.segments import (
    encode_segments,
    salted_postings_auto,
    with_position_blobs,
    write_segments,
)
from ckanext_extractor_spark.operators.codec import GenDocs, live_masks
from ckanext_extractor_spark.operators.segread import (
    SEGMENT_ROW_COLUMNS,
    SegmentStore,
)

#: on-disk segment format, recorded in index_meta.json: 2 = postings store
#: doc ordinals and doc lengths live in ``gens/<g>/docs`` (codec.py). An
#: index without it is rewritten by compact() before it can serve queries.
SEGMENT_FORMAT = 2


class BuildInProgressError(RuntimeError):
    """Another build/delete holds this index's lock (reference analog:
    'inprogress' task refusal, logic/action.py:121-123)."""


class ValidationError(ValueError):
    """Typed rejection of malformed API arguments (reference analog:
    ckan.logic.ValidationError raised by the action schemas,
    logic/schema.py:58-67 — mandatory non-empty id, boolean force;
    pinned by tests logic/test_action.py:193-200)."""


def _query_cache_key(
    query, k, conjunctive, mode, exclude, min_match, fq, start
) -> tuple:
    """search()'s result-cache key: every argument next to its type, so
    values that compare equal across types (True == 1, 2.0 == 2) get
    distinct keys and a cache hit is always a call that passed
    validation. A flat tuple: it is built on every search. Raises
    TypeError/AttributeError on a malformed ``fq``."""
    return (
        type(query), query, type(k), k, type(conjunctive), conjunctive,
        type(mode), mode, type(exclude), exclude, type(min_match), min_match,
        type(fq), tuple(sorted(fq.items())) if fq else None, type(start), start,
    )


def _require_bool(name: str, v) -> bool:
    # the reference's boolean_validator rejects 'maybe' — so do we;
    # accept only real bools (no truthy-string coercion at a library API)
    if not isinstance(v, bool):
        raise ValidationError(f"{name} must be a boolean, got {type(v).__name__}")
    return v


def _require_doc_ids(doc_ids) -> list[int]:
    if isinstance(doc_ids, (str, bytes)) or not isinstance(
        doc_ids, (list, tuple)
    ):
        raise ValidationError("doc_ids must be a list of integers")
    if not doc_ids:
        raise ValidationError("doc_ids must not be empty")
    out = []
    for d in doc_ids:
        if isinstance(d, bool) or not isinstance(d, (int,)):
            raise ValidationError(f"doc_ids entries must be integers, got {d!r}")
        out.append(int(d))
    return out


_FQ_RANGE_RE = re.compile(r"^([\[\{])\s*(\S+|\*)\s+TO\s+(\S+|\*)\s*([\]\}])$")


def _parse_fq_range(q) -> "tuple | None":
    """Solr range-query syntax inside an fq value: ``[a TO b]`` /
    ``{a TO b}`` / ``[* TO b]`` (``{``/``}`` exclusive, ``*`` open).
    Returns (lo, hi, lo_inclusive, hi_inclusive), or None when the value
    is not range syntax (then it's an analyzed-token match). Bounds are
    single tokens — the reference's dynamic fields are strings whose
    useful ranges (dates, identifiers) have no spaces."""
    if not isinstance(q, str):
        return None
    m = _FQ_RANGE_RE.match(q.strip())
    if not m:
        return None
    lo = None if m.group(2) == "*" else m.group(2)
    hi = None if m.group(3) == "*" else m.group(3)
    # '[* TO *]' = field-exists, exactly Solr's field:[* TO *]
    return lo, hi, m.group(1) == "[", m.group(4) == "]"


def _require_query(query) -> str:
    if not isinstance(query, str) or not query.strip():
        raise ValidationError("query must be a non-empty string")
    return query


def _require_k(k) -> int:
    if isinstance(k, bool) or not isinstance(k, int) or k < 1:
        raise ValidationError(f"k must be a positive integer, got {k!r}")
    return k


def _edit_distance_leq(a: str, b: str, n: int) -> bool:
    """Levenshtein(a, b) <= n, with the length gate and an early-exit
    band (every DP row whose minimum exceeds n can never recover). The
    driver-side analog of the thresholded F.levenshtein the cold
    expansion path pushes into the cluster."""
    la, lb = len(a), len(b)
    if abs(la - lb) > n:
        return False
    if a == b:
        return True
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        ai = a[i - 1]
        cur = [i]
        row_min = i
        for j in range(1, lb + 1):
            c = min(
                prev[j] + 1,
                cur[j - 1] + 1,
                prev[j - 1] + (ai != b[j - 1]),
            )
            cur.append(c)
            if c < row_min:
                row_min = c
        if row_min > n:
            return False
        prev = cur
    return prev[lb] <= n


def _edit_distance(a: str, b: str, n: int) -> "int | None":
    """Exact Levenshtein(a, b) when <= ``n``, else None — the banded
    sibling of :func:`_edit_distance_leq` for callers that need the
    distance itself (the blended fuzzy boost). n is tiny (<= 2, the
    LevenshteinAutomata ceiling), so the smallest-d probe loop is
    cheaper than carrying a full unbanded DP."""
    for d in range(n + 1):
        if _edit_distance_leq(a, b, d):
            return d
    return None


def fuzzy_blend_boost(query: str, term: str, max_edits: int) -> float:
    """Lucene's FuzzyQuery distance-blended boost for one expansion:
    ``1 - edit(query, term) / min(|query|, |term|)`` (FuzzyTermsEnum's
    boost(), which TopTermsBlendedFreqScoringRewrite multiplies into
    each rewritten term's weight). An exact match boosts 1.0; each edit
    costs 1/min-length, so corrections to short terms are punished
    hardest — ranking parity with Solr's ``term~n``."""
    d = _edit_distance(query, term, max_edits)
    if d is None:
        raise ValueError(
            f"term {term!r} is not within {max_edits} edits of {query!r}"
        )
    m = min(len(query), len(term))
    return 1.0 - d / m if m else 1.0


def _require_cursor(after) -> "tuple[float, int] | None":
    """Validate a searchAfter cursor: None, or a (doc_id, score) hit
    EXACTLY as a previous page returned it. Returns the kernels'
    (score, doc_id) form."""
    if after is None:
        return None
    if (
        not isinstance(after, (tuple, list)) or len(after) != 2
        or isinstance(after[0], bool) or isinstance(after[1], bool)
        or not isinstance(after[0], int)
        or not isinstance(after[1], (int, float))
    ):
        raise ValidationError(
            "after must be a (doc_id, score) hit from a previous page, "
            f"got {after!r}"
        )
    return (float(after[1]), int(after[0]))


def _require_slop(slop) -> int:
    if isinstance(slop, bool) or not isinstance(slop, int) or slop < 0:
        raise ValidationError(
            f"slop must be a non-negative integer, got {slop!r}"
        )
    return slop


def _filtered_topk(tls, avgdl: float, k: int, keep_docs):
    """Top-k of the conjunctive BM25 ranking of ``tls`` restricted to the
    docs ``keep_docs(doc_ids)`` returns (a span filter: it changes the
    match set, never the scores). Over-fetches 10x; only when filtering
    leaves fewer than k of a full window does it re-rank every match."""
    from ckanext_extractor_spark.operators.wand import exact_topk

    out = []
    for n in (max(k * 10, 100), 10**9):
        scored = exact_topk(tls, n, avgdl, conjunctive=True)
        if not scored:
            break
        keep = set(keep_docs([d for d, _ in scored]))
        out = [(d, s) for d, s in scored if d in keep][:k]
        if len(out) == k or len(scored) < n:
            break
    return out


@dataclass
class EngineHooks:
    before_tokenize: Callable[[DataFrame], DataFrame] | None = None
    after_extract: Callable[[DataFrame], DataFrame] | None = None
    after_save: Callable[[DataFrame], DataFrame] | None = None
    after_index: Callable[["ExtractorEngine"], None] | None = None


@dataclass
class BuildReport:
    build_id: str
    status_counts: dict[str, int] = field(default_factory=dict)
    n_indexed: int = 0
    wall_sec: float = 0.0
    resumed: bool = False
    in_progress: bool = False  # another build held the lock; nothing ran
    compacted: list[str] = field(default_factory=list)
    stage_sec: dict[str, float] = field(default_factory=dict)  # telemetry


LOCK_STALE_SEC = 2 * 3600


class ExtractorEngine:
    # compaction policy: merge generations whose dead fraction crosses
    # DEAD_FRAC, and keep at most MAX_GENS generations (read amplification
    # + tombstone-table bound). Both per-index tunable.
    DEAD_FRAC = 0.25
    MAX_GENS = 12
    # decoded-postings serving cache budget (see warm()); raw segment rows
    # are preloaded only when their resident size fits RAW_PRELOAD_BYTES.
    DECODED_BUDGET_BYTES = 1 << 30
    RAW_PRELOAD_BYTES = 1 << 30
    # filter/negation scale routing: an fq match set or excluded-term
    # posting union above this many rows never materializes on the
    # driver — search() reroutes the query to the slow path, whose
    # semi-/anti-joins keep the filter set cluster-side (Lucene analog:
    # FILTER/MUST_NOT clauses are evaluated inside the searcher, never as
    # process-global id sets)
    FILTER_CLOSURE_MAX = 100_000
    # tokenize-input spread (guide §2.2/§2.5, scale-adaptive): when the
    # corpus arrives in fewer partitions than the cluster has cores (one
    # 15 MB parquet file scans as ~2 splits under openCostInBytes packing,
    # so the CPU-bound tokenize kernel would run 2-wide on a 32-core
    # session), repartition the changed-docs slice so each task gets
    # ~TOKENIZE_TASK_BYTES of content. Derived from measured bytes + live
    # defaultParallelism, never a fixed local count: a 100 TB scan already
    # has partitions >= cores, so the rule is a no-op there (no added
    # exchange); it only fires when cores would otherwise sit idle, and
    # the exchange it adds moves exactly the under-partitioned content
    # once. Env-overridable for cluster profiles.
    TOKENIZE_TASK_BYTES = int(
        os.environ.get("SPARK_GRAFT_TOKENIZE_TASK_BYTES", str(256 << 10))
    )
    # reserved qf pseudo-field targeting the main content index (Solr's
    # catch-all text field in an edismax qf, schema.xml:161)
    BODY_FIELD = "_text_"

    def __init__(
        self,
        spark: SparkSession,
        index_root: str,
        indexed_langs: Iterable[str] = ("*",),
        analyzer: AnalyzerConfig = INDEX_CONFIG,
        n_buckets: int = 64,
        salt_threshold: int = 100_000,
        hooks: EngineHooks | None = None,
        with_positions: bool = True,
        ignore_where: str | None = None,
        indexed_fields: Iterable[str] = ("*",),
        store_content: bool = False,
        store_offsets: bool = False,
        auth_context: dict | None = None,
    ):
        """``ignore_where``: SQL predicate over corpus columns marking docs
        to skip AND purge (reference F3: private datasets skipped at
        extract, stored metadata purged on update — tasks.py:61-68,
        plugin.py:101-107). E.g. ``"private = true"``.

        ``indexed_fields``: fnmatch patterns selecting which extracted-
        metadata keys to store when the corpus carries a ``metadata`` map
        column (reference F2 `indexed_fields`, config.py:101-105; keys are
        cleaned first — lowercase, '_'->'-', multivalues ', '-joined —
        lib.py:55-65 / tasks.py:82-95).

        ``store_content``: keep a ``doc_store`` table (doc_id -> fulltext)
        merged incrementally like doc_stats. Reference parity: the
        extracted fulltext is STORED, not just indexed (ResourceMetadatum
        'fulltext' row, model.py:117-127 / tasks.py:99-104;
        extractor_show returns it) — enables show()['fulltext'] and
        snippets().

        ``store_offsets``: also store a per-doc token-position ->
        char-offset blob in doc_store (Lucene
        IndexOptions..AND_OFFSETS / term vectors with offsets,
        FastVectorHighlighter's input): snippets() then anchors
        highlights with a point varbyte decode instead of re-analyzing
        the text at query time. Computed in the same scan that writes
        doc_store; opt-in because every stored doc pays ~1 byte/token.
        Requires store_content.

        ``auth_context``: per-action authorization principal, e.g.
        ``{"user": "alice", "sysadmin": False}`` (reference
        logic/auth.py:39-42 — extract/delete sysadmin-only, list/show
        anonymous). ``None`` (default) is trusted library mode: no
        checks, like the reference's in-process ``ignore_auth`` calls."""
        self.spark = spark
        self.root = index_root
        self.indexed_langs = tuple(indexed_langs)
        self.analyzer = analyzer
        self.n_buckets = n_buckets
        self.salt_threshold = salt_threshold
        self.hooks = hooks or EngineHooks()
        self.with_positions = with_positions
        self.ignore_where = ignore_where
        self.indexed_fields = tuple(indexed_fields)
        self.store_content = store_content
        self.store_offsets = store_offsets
        self.auth_context = auth_context
        # serving caches (warm()): the preloaded segment store, or the
        # lazy byte-bounded LRU of raw segment rows; LRU decoded postings
        self._store: "SegmentStore | None" = None
        self._rows_cache: "OrderedDict[str, list] | None" = None
        self._raw_bytes = 0
        self._raw_budget = self.RAW_PRELOAD_BYTES
        self._decoded_cache: "OrderedDict[str, object]" = OrderedDict()
        self._decoded_bytes = 0
        self._decoded_budget = self.DECODED_BUDGET_BYTES
        self._stats_cache: dict | None = None
        self._tomb_count: int | None = None
        # memoized top-k results keyed (query, k, conjunctive, mode) —
        # Solr queryResultCache analog (solrconfig.xml queryResultCache);
        # cleared by cool() on every index mutation
        self._query_cache: "OrderedDict[tuple, list]" = OrderedDict()
        self._gens: list[dict] = []
        self._seq = 0
        self._segment_format = SEGMENT_FORMAT
        # stored GenDocs per generation, keyed (gen id, seq) — a
        # generation never changes once written, so no mutation
        # invalidates an entry
        self._gen_docs_memo: dict[tuple, GenDocs] = {}
        # (index state, {gen id: GenDocs with its live mask}) and
        # (index state, broadcast of it): rebuilt when the state changes
        self._live_docs: "tuple | None" = None
        self._gen_docs_bc: "tuple | None" = None
        self.fs = FsIO(spark, index_root)
        self.fs.makedirs(index_root)
        # structural index properties are INDEX state, not caller options:
        # a query/delete with a different n_buckets than the build would
        # prune the wrong partitions. Persisted at build, loaded on open.
        meta = self._read_meta()
        if meta:
            self.n_buckets = int(meta["n_buckets"])
            self.salt_threshold = int(meta["salt_threshold"])
            self.with_positions = bool(meta["with_positions"])
            self.indexed_langs = tuple(meta["indexed_langs"])
            self._gens = list(meta.get("generations", []))
            self._seq = int(meta.get("seq", 0))
            self._segment_format = int(
                meta.get("segment_format", 1 if self._gens else SEGMENT_FORMAT)
            )
            self.store_content = bool(
                meta.get("store_content", self.store_content)
            )
            self.store_offsets = bool(
                meta.get("store_offsets", self.store_offsets)
            )
            # the analyzer contract is INDEX state too (custom stopword
            # sets are not persisted — pass the same analyzer explicitly
            # for those); a reopened engine must analyze queries with the
            # chain the index was built with
            mode = meta.get("analyzer_mode", self.analyzer.mode)
            stem = bool(meta.get("analyzer_stem", False))
            if mode == "simple":
                from dataclasses import replace as _dc_replace

                self.analyzer = _dc_replace(SIMPLE_CONFIG, stem=stem)
            elif (mode, stem) != (self.analyzer.mode, self.analyzer.stem):
                self.analyzer = AnalyzerConfig(mode=mode, stem=stem)
        if self.store_offsets and not self.store_content:
            raise ValidationError(
                "store_offsets requires store_content=True (offsets live "
                "in the doc_store rows)"
            )

    def _meta_path(self) -> str:
        return os.path.join(self.root, "index_meta.json")

    def _read_meta(self) -> dict | None:
        return self.fs.read_json(self._meta_path())

    def _write_meta(self) -> None:
        self.fs.write_text_atomic(
            self._meta_path(),
            json.dumps(
                {
                    "n_buckets": self.n_buckets,
                    "salt_threshold": self.salt_threshold,
                    "with_positions": self.with_positions,
                    "indexed_langs": list(self.indexed_langs),
                    "analyzer_mode": self.analyzer.mode,
                    "analyzer_stem": self.analyzer.stem,
                    "bm25": {"k1": 1.2, "b": 0.75},
                    "store_content": self.store_content,
                    "store_offsets": self.store_offsets,
                    "seq": self._seq,
                    "segment_format": self._segment_format,
                    "generations": self._gens,
                }
            ),
        )

    # -- paths ------------------------------------------------------------
    def _p(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def _gen_segments_path(self, g: dict) -> str:
        return self._p("gens", g["gen"], "segments")

    def _gen_docs_path(self, g: dict) -> str:
        return self._p("gens", g["gen"], "docs")

    def _require_segment_format(self) -> None:
        if self._segment_format != SEGMENT_FORMAT:
            raise ValidationError(
                f"index {self.root} uses segment format "
                f"{self._segment_format}; this engine reads only format "
                f"{SEGMENT_FORMAT}. Run compact() to rewrite it (or rebuild "
                "the index)."
            )

    def _stored_gen_docs(self, g: dict) -> GenDocs:
        """The generation's doc ids and lengths as stored (postings'
        ordinals index them), memoized by (gen id, seq)."""
        self._require_segment_format()
        key = (g["gen"], int(g["seq"]))
        docs = self._gen_docs_memo.get(key)
        if docs is None:
            live = {(x["gen"], int(x["seq"])) for x in self._gens}
            for k in [k for k in self._gen_docs_memo if k not in live]:
                del self._gen_docs_memo[k]
            docs = self._read_gen_docs(self._gen_docs_path(g))
            self._gen_docs_memo[key] = docs
        return docs

    def _read_gen_docs(self, path: str) -> GenDocs:
        if self.fs.is_local:
            from ckanext_extractor_spark.operators.segread import (
                read_gen_docs,
            )

            return read_gen_docs(path)
        return _collect_gen_docs(self.spark.read.parquet(path))

    def _index_state(self) -> tuple:
        """What the live masks depend on: the committed seq (it bounds
        the tombstone rows that apply) and the generation list."""
        return (self._seq, tuple((g["gen"], int(g["seq"])) for g in self._gens))

    def _docs_by_gen(self) -> "dict[str, GenDocs]":
        """Every generation's GenDocs with its live mask
        (``codec.live_masks``), built once per index state from the
        tombstone rows at or below the committed seq."""
        state = self._index_state()
        if self._live_docs is None or self._live_docs[0] != state:
            ids, seqs = self._read_tombstones()
            committed = seqs <= self._seq
            masked = live_masks(
                [(int(g["seq"]), self._stored_gen_docs(g)) for g in self._gens],
                ids[committed], seqs[committed],
            )
            self._live_docs = (
                state, {g["gen"]: d for g, d in zip(self._gens, masked)}
            )
        return self._live_docs[1]

    def _gen_docs(self, g: dict) -> GenDocs:
        """Generation ``g``'s GenDocs with its live mask."""
        return self._docs_by_gen()[g["gen"]]

    def _gen_docs_broadcast(self):
        """Broadcast of ``_docs_by_gen()`` for the distributed decoders,
        kept while the index state is unchanged."""
        state = self._index_state()
        if self._gen_docs_bc is None or self._gen_docs_bc[0] != state:
            self._gen_docs_bc = (
                state, self.spark.sparkContext.broadcast(self._docs_by_gen())
            )
        return self._gen_docs_bc[1]

    # -- concurrency lock (B4: inprogress, action.py:121-123) --------------
    def _lock_path(self) -> str:
        return self._p(".build_lock")

    def _acquire_lock(self, build_id: str) -> bool:
        """O_CREAT|O_EXCL lock file; returns False if a FRESH lock is held
        by someone else. A stale lock (holder crashed > LOCK_STALE_SEC ago)
        is broken and re-acquired."""
        path = self._lock_path()
        payload = json.dumps(
            {"build_id": build_id, "pid": os.getpid(), "ts": time.time()}
        )
        for attempt in range(2):
            if self.fs.create_excl(path, payload):
                return True
            age = self.fs.age_sec(path)
            if age is None:
                continue  # holder released between exists and stat
            if age > LOCK_STALE_SEC and attempt == 0:
                # break-by-rename, not unlink: between the age check and
                # the break another writer may already have broken the
                # stale lock and created a FRESH one — a blind unlink
                # would delete that writer's lock and two builds would
                # run concurrently (ADVICE r2, api.py:280). Renaming to a
                # unique name first makes the steal observable: we read
                # the payload we actually took, and if it turns out fresh
                # we put it back and yield.
                broke = path + ".breaking-" + uuid.uuid4().hex[:8]
                try:
                    self.fs.rename(path, broke)
                except OSError:
                    continue  # someone else broke/released it first
                taken = self.fs.read_json(broke)
                self.fs.unlink(broke)
                if taken and time.time() - taken.get("ts", 0) <= LOCK_STALE_SEC:
                    # stole a fresh lock: restore it (best-effort — if a
                    # third writer locked meanwhile, the fresh holder has
                    # lost the race either way) and back off
                    self.fs.create_excl(path, json.dumps(taken))
                    return False
                continue
            return False
        return False

    def _release_lock(self) -> None:
        self.fs.unlink(self._lock_path())

    def in_progress(self) -> dict | None:
        """The current build lock's payload, or None."""
        return self.fs.read_json(self._lock_path())

    def _check_access(self, action: str) -> None:
        """Per-action auth gate (reference logic/auth.py; no-op in
        trusted library mode, i.e. auth_context=None)."""
        from ckanext_extractor_spark.auth import check_access

        check_access(action, self.auth_context)

    # -- build (extractor_extract analog) ---------------------------------
    def extract(
        self,
        corpus: DataFrame,
        force: bool = False,
        build_id: str | None = None,
    ) -> BuildReport:
        """Incremental index build with change detection + resume.

        Only docs whose content sha changed (or new/previously-purged docs)
        are re-tokenized (F4: the anti-join version of `last_url != url`,
        action.py:129-133); their postings land in a NEW generation —
        unchanged docs' generations are not rewritten. The tokenize output
        is staged to parquet keyed by build_id — re-running the same
        build_id after a crash reuses the completed stage (B3
        checkpoint/resume).

        If another build/delete holds this index's lock, returns
        immediately with ``in_progress=True`` (reference: duplicate task
        refusal, action.py:121-123).
        """
        t0 = time.perf_counter()
        self._check_access("extractor_extract")
        _require_bool("force", force)
        if build_id is not None and (
            not isinstance(build_id, str) or not build_id.strip()
        ):
            raise ValidationError("build_id must be a non-empty string")
        build_id = build_id or uuid.uuid4().hex[:12]
        if not self._acquire_lock(build_id):
            return BuildReport(
                build_id=build_id, in_progress=True,
                wall_sec=time.perf_counter() - t0,
            )
        try:
            return self._extract_locked(corpus, force, build_id, t0)
        finally:
            self._release_lock()

    def _extract_locked(
        self, corpus: DataFrame, force: bool, build_id: str, t0: float
    ) -> BuildReport:
        if self._segment_format != SEGMENT_FORMAT:
            # rewrite an older-format index before adding to it: its
            # upgrade reads postings tables only its own generations have
            self.maybe_compact()
        prepared = prepare_corpus(corpus, ("*",))  # keep all; lang gates status
        if self.hooks.before_tokenize:
            prepared = self.hooks.before_tokenize(prepared)
        prepared = self._normalize_metadata(prepared)
        lang_ok = glob_filter_expr(F.col("lang"), self.indexed_langs)
        if self.ignore_where:
            lang_ok = lang_ok & ~F.expr(self.ignore_where)
        mpath = self._p("doc_manifest")
        manifest = (
            read_doc_manifest(self.spark, self.root)
            if self.fs.exists(mpath) and self._has_part_files(mpath)
            else None
        )
        # `statused` is the build's one cached per-doc frame: content-free
        # rows plus their status, filled by the status collect. Every later
        # bookkeeping job (gen docs, doc_stats, field sidecars, manifest)
        # reads it instead of re-planning the manifest join. The corpus
        # content is scanned exactly twice per build — once here
        # (sha/fidelity) and once inside tokenize — never cached, never
        # carried through joins.
        statused = compute_statuses(
            prepared.drop("content"), manifest, lang_ok, force=force
        ).cache()
        try:
            return self._extract_body(
                prepared, statused, manifest, build_id, t0
            )
        finally:
            statused.unpersist()

    def _extract_body(
        self, prepared, statused, manifest, build_id, t0
    ) -> BuildReport:
        spark = self.spark
        stage_sec: dict[str, float] = {}

        def stage(name):
            return _build_stage(spark, build_id, name, stage_sec)

        with stage("status"):
            # one collect yields the status histogram AND the changed-bytes
            # estimate the tokenize-spread rule needs (no extra job)
            _sz = (
                F.sum("size_bytes") if "size_bytes" in statused.columns
                else F.lit(None)
            )
            # under AQE the cache fills in a query stage of its own, at
            # full parallelism; one partition then serves the 3-row
            # histogram with no exchange (one job fewer). Without AQE a
            # coalesce would pull the cache fill into a single task.
            hist = statused
            if spark.conf.get("spark.sql.adaptive.enabled", "true") == "true":
                hist = statused.coalesce(1)
            _status_rows = hist.groupBy("status").agg(
                F.count("*").alias("n"), _sz.alias("b")
            ).collect()
        counts = {r["status"]: r["n"] for r in _status_rows}
        bytes_by_status = {r["status"]: r["b"] or 0 for r in _status_rows}
        n_changed = counts.get(STATUS_NEW, 0) + counts.get(STATUS_UPDATE, 0)
        n_ignored = counts.get(STATUS_IGNORED, 0)
        if n_changed == 0 and n_ignored == 0:
            # pure no-op rebuild: nothing to tokenize, purge, or record —
            # zero index mutation (manifest rows already say 'unchanged')
            return BuildReport(
                build_id=build_id,
                status_counts=counts,
                n_indexed=0,
                wall_sec=time.perf_counter() - t0,
            )

        # whole batch changed (fresh build / force): the changed-doc
        # filters below are no-ops — skip them
        whole_batch = n_changed == sum(counts.values())
        changed_meta = statused if whole_batch else statused.where(
            F.col("status").isin(STATUS_NEW, STATUS_UPDATE)
        )
        to_index_ids = changed_meta.select("doc_id")
        # docs whose stored rows this build replaces or purges
        dropped_ids = statused.where(
            F.col("status") != STATUS_UNCHANGED
        ).select("doc_id")

        # ---- tokenize delta (resume-aware staging checkpoint) ------------
        staging = self._p("staging", "raw_postings", build_id)
        resumed = self.fs.exists(os.path.join(staging, "_SUCCESS"))
        with stage("tokenize_stage"):
            if not resumed:
                self._write_tokenize_staging(
                    prepared, to_index_ids, whole_batch, bytes_by_status,
                    staging,
                )

        with stage("lineage_markers"):
            raw = spark.read.schema(POSTINGS_SCHEMA).parquet(staging)
            delta_postings = raw.where(F.col("term").isNotNull())
            lineage = lineage_from_raw(raw, build_id)
            # per-doc marker rows: the generation's doc set and norms
            doc_lens = raw.where(
                F.col("term").isNull() & (F.col("tf") < 0)
            ).select("doc_id", "doc_len")
            gen_docs = (
                self._staged_gen_docs(staging, doc_lens) if n_changed
                else None
            )
            if self.hooks.after_extract:
                # encode and doc_stats read one materialized copy of the
                # hook's output; it goes with the staging dir
                hooked = staging + ".after_extract"
                _atomic_overwrite(
                    self.hooks.after_extract(delta_postings), hooked, spark
                )
                delta_postings = spark.read.parquet(hooked).where(
                    F.col("term").isNotNull()
                )
            n_delta_rows = self._staged_posting_rows(staging, lineage)

        self._drop_uncommitted_tombstones()
        next_seq = self._seq + 1
        gen = {
            "gen": build_id,
            "seq": next_seq,
            "n_docs": int(n_changed),
        }

        # ---- tombstones: kill older postings of re-indexed/purged docs ---
        # (a fresh index has no older postings to kill)
        n_upd = counts.get(STATUS_UPDATE, 0)
        if manifest is not None and (n_upd or n_ignored):
            with stage("tombstones"):
                upd_ids = statused.where(
                    F.col("status") == STATUS_UPDATE
                ).select("doc_id")
                # ignored docs that WERE indexed (private flip / lang
                # change): their stored postings + metadata are purged
                # (tasks.py:61-68)
                re_ignored = statused.where(
                    F.col("status") == STATUS_IGNORED
                ).join(
                    manifest.where(F.col("status") == "indexed").select(
                        "doc_id"
                    ),
                    "doc_id",
                    "left_semi",
                )
                tombs = (
                    upd_ids.unionByName(re_ignored.select("doc_id"))
                    .distinct()
                    .select(
                        "doc_id", F.lit(next_seq).cast("long").alias("seq")
                    )
                )
                write_table(tombs, self._p("tombstones"), mode="append")
                self._tomb_count = None

        # ---- overlapped stage group: encode beside the bookkeeping -------
        # Segment encode runs on this thread while the bookkeeping tables
        # (gen docs + lineage, doc_stats -> corpus_stats, field sidecars +
        # manifest, doc_store) run from a thread pool and back-fill the
        # encode chain's one-task stages and inter-job gaps: in paired
        # runs this beat running the same side jobs after encode. The side
        # work is small by construction — its per-doc input is the cached
        # `statused` frame, staging is read with its known schema, lineage
        # is appended straight from the staging marker scan — so a fresh
        # build stays within the job budget in the README.
        # Sequential-equivalence:
        #   * every task reads only OLD table files, the staging dir, its
        #     own staged temp dirs or the cached `statused`, all immutable
        #     during the group;
        #   * every side table (doc_stats, corpus_stats, field_norms,
        #     field_postings, the manifest, doc_store) is written to a
        #     temp dir in-task and SWAPPED only after every task joined
        #     (deferred publish): a cache block recomputed mid-group still
        #     reads the old tables, and a failed task or encode leaves
        #     every committed table in place, so the committed index keeps
        #     its stats and a re-run of the build_id re-indexes the same
        #     docs;
        #   * corpus_stats is derived from the staged doc_stats dir;
        #   * publish order within each dependency chain is unchanged
        #     (norms before field_postings, doc_stats before corpus_stats).
        # A task failure surfaces after the group joins and fails the
        # build before the generation commit, same as a serial failure;
        # re-running the build_id resumes from staging and republishes
        # every table idempotently.
        from concurrent.futures import ThreadPoolExecutor

        _t = time.perf_counter()

        def t_encode():
            # Direct partitioned write from the encode tasks — NO second
            # exchange: the encode shuffle is keyed by (term_bucket,
            # salt_id), so every key lives wholly in one task and the
            # file count is ~#distinct (bucket, salt) keys. Rows leave
            # the kernel already term-lexical within each task, so
            # parquet min/max row-group pruning on `term` works.
            gen["n_buckets"] = self._encode_and_write_segments(
                delta_postings,
                gen_docs,
                self._encode_tasks(n_delta_rows),
                self._p("gens", build_id, "segments"),
            )

        def t_gen_docs():
            # generation doc set (ordinals, norms, compaction accounting)
            # + lineage append, straight from the staging marker scan
            if n_changed:
                write_table(doc_lens, self._p("gens", build_id, "docs"))
            append_lineage(lineage, self.root)

        def t_doc_stats():
            # doc_stats: changed docs re-derived, unchanged rows kept;
            # doc_len from the kernel's per-doc marker rows (tiny scan)
            batch_stats = build_doc_stats(
                changed_meta, delta_postings, doc_lens=doc_lens
            )
            prev_ds = self._read_or_none("doc_stats")
            if prev_ds is not None:
                kept_ds = prev_ds.join(dropped_ids, "doc_id", "left_anti")
                batch_stats = kept_ds.unionByName(
                    batch_stats, allowMissingColumns=True
                )
            publish_ds = _atomic_overwrite_staged(
                batch_stats, self._p("doc_stats"), spark
            )
            stats = build_corpus_stats(
                spark.read.schema(batch_stats.schema).parquet(
                    publish_ds.staged_path
                )
            )
            deferred.extend([
                publish_ds,
                _atomic_overwrite_staged(
                    stats, self._p("corpus_stats"), spark
                ),
            ])

        def t_fields_manifest():
            if "metadata" in statused.columns:
                from ckanext_extractor_spark.operators.fields import (
                    build_field_norms,
                    build_field_postings,
                )

                batch_fp = build_field_postings(changed_meta)
                # per-(doc, field) norms ride the same build (Lucene writes
                # norms at flush time; dismax reads them instead of
                # re-aggregating the whole field table per query) — merged
                # incrementally with the same kept/dropped discipline as
                # field_postings so the two never drift
                batch_norms = build_field_norms(batch_fp)
                prev_fp = self._read_or_none("field_postings")
                if prev_fp is not None:
                    kept_fp = prev_fp.join(dropped_ids, "doc_id", "left_anti")
                    prev_norms = self._read_or_none("field_norms")
                    if prev_norms is None:
                        # pre-norms store: derive kept docs' norms once
                        kept_norms = build_field_norms(kept_fp)
                    else:
                        kept_norms = prev_norms.join(
                            dropped_ids, "doc_id", "left_anti"
                        )
                    batch_fp = kept_fp.unionByName(batch_fp)
                    batch_norms = kept_norms.unionByName(batch_norms)
                # norms publish FIRST: the pre-norms upgrade branch derives
                # kept docs' norms from the OLD field_postings files, which
                # the postings publish replaces
                deferred.extend([
                    _atomic_overwrite_staged(
                        batch_norms, self._p("field_norms"), spark
                    ),
                    _atomic_overwrite_staged(
                        batch_fp, self._p("field_postings"), spark
                    ),
                ])
            # manifest: heavy write now, swap deferred past the group join
            new_manifest = statused.select(
                "doc_id",
                "content_sha256",
                "lang",
                F.when(F.col("status") == STATUS_IGNORED, STATUS_IGNORED)
                .otherwise(F.lit("indexed"))
                .alias("status"),
                F.lit(build_id).alias("build_id"),
            )
            # merge: keep manifest rows for docs not in this batch
            if manifest is not None:
                kept_m = manifest.join(
                    statused.select("doc_id"), "doc_id", "left_anti"
                )
                new_manifest = kept_m.unionByName(new_manifest)
            if self.hooks.after_save:
                new_manifest = self.hooks.after_save(new_manifest)
            deferred.append(
                _atomic_overwrite_staged(new_manifest, mpath, spark)
            )

        def t_doc_store():
            # doc-store (fulltext kept, reference tasks.py:99-104): one
            # more pruned content scan, only when opted in
            batch_store = (
                prepared if whole_batch else prepared.join(
                    to_index_ids, "doc_id", "left_semi"
                )
            ).select("doc_id", "content")
            if self.store_offsets:
                # position->char offsets ride the same scan (offsets.py;
                # Lucene IndexOptions..AND_OFFSETS at index time)
                from ckanext_extractor_spark.operators.offsets import (
                    offsets_udf,
                )

                batch_store = batch_store.withColumn(
                    "pos_offsets",
                    offsets_udf(self.analyzer)(F.col("content")),
                )
            prev_store = self._read_or_none("doc_store")
            if prev_store is not None:
                # allowMissingColumns: a store written before (or after)
                # offsets were enabled merges with null blobs — snippet
                # lookups fall back to the analyzer re-scan there
                batch_store = prev_store.join(
                    dropped_ids, "doc_id", "left_anti"
                ).unionByName(batch_store, allowMissingColumns=True)
            deferred.append(_atomic_overwrite_staged(
                batch_store, self._p("doc_store"), spark
            ))

        mpath = self._p("doc_manifest")
        deferred: list = []
        side_tasks = [("gen_docs", t_gen_docs), ("doc_stats", t_doc_stats),
                      ("fields_manifest", t_fields_manifest)]
        if self.store_content:
            side_tasks.append(("doc_store", t_doc_store))

        def timed(name, fn):
            with stage(name):
                fn()

        with ThreadPoolExecutor(max_workers=len(side_tasks)) as pool:
            futs = [pool.submit(timed, name, fn) for name, fn in side_tasks]
            if n_changed:
                timed("encode_segments", t_encode)
            for f in futs:
                f.result()
        for publish in deferred:
            publish()
        stage_sec["overlap_group_wall"] = time.perf_counter() - _t
        _t = time.perf_counter()
        self._stats_cache = None  # N/avgdl changed

        # ---- commit generation --------------------------------------------
        self._seq = next_seq
        if n_changed:
            self._gens.append(gen)
            self._gen_docs_memo[(build_id, next_seq)] = gen_docs
        self._write_meta()
        self.cool()  # cached segments are stale after a rebuild
        compacted = self.maybe_compact()
        stage_sec["compact_gc"] = time.perf_counter() - _t
        self._gc_staging()
        self._gc_orphan_gens()
        if self.hooks.after_index:
            self.hooks.after_index(self)

        return BuildReport(
            build_id=build_id,
            status_counts=counts,
            n_indexed=n_changed,
            wall_sec=time.perf_counter() - t0,
            resumed=resumed,
            compacted=compacted,
            stage_sec={k: round(v, 3) for k, v in stage_sec.items()},
        )

    def _write_tokenize_staging(
        self, prepared, to_index_ids, whole_batch, bytes_by_status, staging
    ) -> None:
        """Tokenize the changed docs into ``staging`` (published atomically;
        a later run of the same build_id resumes from it). Only changed docs
        reach the kernel; selecting just (doc_id, content, lang) lets
        Catalyst prune the sha/size expressions out of this second content
        scan, and hook transforms stay applied."""
        if whole_batch:
            # skip the semi-join — it would shuffle the full CONTENT column
            # for a no-op filter
            to_index = prepared.select("doc_id", "content", "lang")
        else:
            to_index = prepared.join(
                to_index_ids, "doc_id", "left_semi"
            ).select("doc_id", "content", "lang")
        # scale-adaptive tokenize spread (see TOKENIZE_TASK_BYTES): only
        # fires when the input has fewer partitions than cores AND the
        # changed bytes justify more tasks — at scale the scan partition
        # count already exceeds parallelism and this is a no-op
        changed_bytes = int(
            bytes_by_status.get(STATUS_NEW, 0)
            + bytes_by_status.get(STATUS_UPDATE, 0)
        )
        if changed_bytes:
            target = self._tokenize_spread_target(
                changed_bytes,
                to_index.rdd.getNumPartitions(),
                self.spark.sparkContext.defaultParallelism,
            )
            if target:
                to_index = to_index.repartition(target)
        raw = tokenize_with_lineage(to_index, self.analyzer)
        tmp = staging + ".inprogress"
        raw.write.mode("overwrite").parquet(tmp)
        if self.fs.exists(staging):
            self.fs.rmtree(staging)
        self.fs.rename(tmp, staging)  # atomic publish of the stage

    def _staged_posting_rows(self, staging: str, lineage: DataFrame) -> int:
        """Posting rows in a staging dir (sizes the encode shuffle). On a
        local root the parquet footers give it exactly — rows minus `term`
        nulls per row group counts out both marker kinds — with no data
        page and no Spark job, and independent of this run's status counts
        (a resumed build may stage an older corpus slice). Other roots sum
        the partition markers' posting counts."""
        if self.fs.is_local:
            from ckanext_extractor_spark.operators.segread import (
                count_non_null,
            )

            try:
                return count_non_null(staging, "term")
            except (OSError, ValueError):  # unreadable footer / no null count
                pass
        return sum(
            int(r["n_postings"] or 0)
            for r in lineage.select("n_postings").collect()
        )

    def _staged_gen_docs(self, staging: str, doc_lens: DataFrame) -> GenDocs:
        """The generation's GenDocs from the staging per-doc markers: a
        streamed pyarrow read on a local root (no Spark job), else a
        collect of ``doc_lens``."""
        if self.fs.is_local:
            from ckanext_extractor_spark.operators.segread import (
                read_doc_markers,
            )

            return read_doc_markers(staging)
        return _collect_gen_docs(doc_lens)

    def _tokenize_spread_target(
        self, changed_bytes: int, cur_partitions: int, parallelism: int
    ) -> int | None:
        """Task count for the tokenize kernel, or None to keep the input
        partitioning (see TOKENIZE_TASK_BYTES). Fires only when the input
        has fewer partitions than cores AND the bytes justify more tasks;
        capped at one even wave (<= parallelism) — round-robin keeps the
        bytes balanced, and a single wave measured faster than 2x-4x
        oversubscription on this host (task overhead, no straggler to
        hide)."""
        if cur_partitions >= parallelism:
            return None
        target = min(
            -(-changed_bytes // max(self.TOKENIZE_TASK_BYTES, 1)),
            parallelism,
        )
        return int(target) if target > cur_partitions else None

    def _normalize_metadata(self, prepared: DataFrame) -> DataFrame:
        """EAV sidecar (reference ResourceMetadatum, model.py:117-127):
        when the corpus carries a ``metadata`` map column, collapse
        array values (tasks.py:89-95), clean keys (lib.py:55-59), and
        keep only ``indexed_fields``-matching keys (config.py:101-105).
        The cleaned map flows into doc_stats and out of show()."""
        if "metadata" not in prepared.columns:
            return prepared
        from pyspark.sql import types as T

        from ckanext_extractor_spark.operators.normalize import (
            clean_metadata_keys,
            collapse_multivalues,
            filter_metadata_fields,
        )

        mcol = F.col("metadata")
        mtype = prepared.schema["metadata"].dataType
        if isinstance(mtype, T.MapType) and isinstance(
            mtype.valueType, T.ArrayType
        ):
            mcol = collapse_multivalues(mcol)
        mcol = filter_metadata_fields(
            clean_metadata_keys(mcol), self.indexed_fields
        )
        return prepared.withColumn("metadata", mcol)

    # -- introspection -----------------------------------------------------
    def _read_or_none(self, name: str) -> DataFrame | None:
        p = self._p(name)
        if not self.fs.exists(p):
            return None
        return self.spark.read.parquet(p)

    def _has_part_files(self, path: str) -> bool:
        """True if a parquet dir has at least one data file (an all-empty
        partitioned write leaves only _SUCCESS — unreadable schema)."""
        return self.fs.has_part_files(path)

    def _read_tombstones(self) -> "tuple[np.ndarray, np.ndarray]":
        """Every tombstone row's (doc_id, seq) as int64 arrays: a pyarrow
        read on a local root, else one Spark collect."""
        p = self._p("tombstones")
        if not self.fs.exists(p):
            z = np.empty(0, dtype=np.int64)
            return z, z
        if self.fs.is_local:
            from ckanext_extractor_spark.operators.segread import (
                read_tombstones,
            )

            ids, seqs = read_tombstones(p)
        else:
            rows = self.spark.read.parquet(p).select("doc_id", "seq").collect()
            ids, seqs = [r[0] for r in rows], [r[1] for r in rows]
        return (np.asarray(ids, dtype=np.int64),
                np.asarray(seqs, dtype=np.int64))

    def _drop_uncommitted_tombstones(self) -> None:
        """Drop the tombstone rows above the committed seq before a
        mutation claims the next seq. A build appends its rows before it
        commits; if it then fails, they must not start killing the old
        copies of docs it never replaced once a later build commits."""
        _, seqs = self._read_tombstones()
        if (seqs > self._seq).any():
            p = self._p("tombstones")
            kept = self.spark.read.parquet(p).where(F.col("seq") <= self._seq)
            _atomic_overwrite(kept, p, self.spark)
            self._tomb_count = None

    def _tombstone_count(self) -> int:
        """Number of committed tombstone rows (seq at or below the
        committed seq: a failed build's rows apply to nothing); cached.
        Reported by index_stats() and counted into significant_terms'
        background."""
        if self._tomb_count is None:
            _, seqs = self._read_tombstones()
            self._tomb_count = int((seqs <= self._seq).sum())
        return self._tomb_count

    def corpus_stats(self) -> dict:
        if self._stats_cache is None:
            p = self._p("corpus_stats")
            if self.fs.is_local:
                # 1-row table: a driver-side pyarrow read beats a Spark
                # job by ~0.2 s on every cold query (optimization r6)
                from ckanext_extractor_spark.operators.segread import (
                    read_small_table,
                )

                self._stats_cache = read_small_table(p)[0]
            else:
                row = self.spark.read.parquet(p).collect()[0]
                self._stats_cache = row.asDict()
        return self._stats_cache

    def index_stats(self) -> dict:
        """Index-level statistics — the Solr Luke handler /
        ``CheckIndex`` surface (``/admin/luke``: numDocs, numTerms,
        per-index aggregates; the reference's ops view of the Solr core
        it maintains). ONE column-pruned distributed aggregate over the
        segment metadata rows (term + n_postings, no blob decode) plus
        the doc_stats doc_len sum; everything else is driver-held
        manifest state. ``n_terms`` / ``n_postings`` are PRE-MERGE
        (tombstoned docs count until compaction, like Lucene's maxDoc /
        un-GC'd docFreq — the same pin terms() takes); on a fresh index
        they equal the live counts. Returns ``{n_docs, avgdl,
        total_tokens, n_terms, n_postings, generations, tombstones,
        segments_disk_bytes}``."""
        self._check_access("extractor_list")
        st = self.corpus_stats()
        out = {
            "n_docs": int(st["n_docs"]),
            "avgdl": float(st["avgdl"]),
            "total_tokens": 0,
            "n_terms": 0,
            "n_postings": 0,
            "generations": len(self._gens),
            "tombstones": self._tombstone_count(),
            "segments_disk_bytes": self._segments_disk_bytes(),
        }
        seg = self._segments_union()
        if seg is not None:
            row = seg.agg(
                F.countDistinct("term").alias("nt"),
                F.sum("n_postings").alias("np"),
            ).collect()[0]
            out["n_terms"] = int(row["nt"] or 0)
            out["n_postings"] = int(row["np"] or 0)
        ds = self._read_or_none("doc_stats")
        if ds is not None:
            row = ds.agg(F.sum("doc_len").alias("t")).collect()[0]
            out["total_tokens"] = int(row["t"] or 0)
        return out

    def list_indexed(self) -> DataFrame:
        """Docs with completed metadata (extractor_list, action.py:153-166;
        in-flight/ignored docs excluded, test logic/test_action.py:51-56)."""
        self._check_access("extractor_list")
        return (
            read_doc_manifest(self.spark, self.root)
            .where(F.col("status") == "indexed")
            .select("doc_id")
        )

    def show(self, doc_id: int) -> dict:
        """Doc stats + provenance (extractor_show, action.py:169-184)."""
        self._check_access("extractor_show")
        if isinstance(doc_id, bool) or not isinstance(doc_id, int):
            raise ValidationError(f"doc_id must be an integer, got {doc_id!r}")
        out = {}
        ds = self._read_or_none("doc_stats")
        if ds is not None:
            rows = ds.where(F.col("doc_id") == doc_id).collect()
            if rows:
                out.update(rows[0].asDict())
        m = (
            read_doc_manifest(self.spark, self.root)
            .where(F.col("doc_id") == doc_id)
            .collect()
        )
        if m:
            out["status"] = m[0]["status"]
            out["build_id"] = m[0]["build_id"]
        if self.store_content:
            rows = self._doc_store_rows([doc_id])
            if rows:
                out["fulltext"] = rows[0]["content"]
        return out

    def term_vectors(
        self, doc_id: int
    ) -> list[tuple[str, int, list[int]]]:
        """Per-doc term vector — Solr TermVectorComponent / Lucene
        ``Terms.termVectors(doc)``: every indexed term of ``doc_id`` with
        its in-doc tf and (when the index stores positions) its sorted
        position list. Lucene persists term vectors as a doc-keyed
        forward store written at flush; here the segments are the only
        copy of the postings, so the lookup decodes the segments of just
        the generations whose doc set holds the doc: first without
        positions, for the doc's vocabulary, then with positions for
        those terms only (bucket-pruned). Dead postings are dropped by
        the same live masks the query paths decode through
        (:meth:`postings_frame`). Returns [(term, tf, positions)], term
        asc; [] for unknown or deleted docs, positions [] when built
        without positions."""
        self._check_access("extractor_show")
        if isinstance(doc_id, bool) or not isinstance(doc_id, int):
            raise ValidationError(f"doc_id must be an integer, got {doc_id!r}")
        gens = [g for g in self._gens if doc_id in self._gen_docs(g).doc_ids]
        hit = F.col("doc_id") == int(doc_id)
        vocab = self.postings_frame(gens=gens) if gens else None
        rows = (
            vocab.where(hit).select("term", "tf").collect() if vocab else []
        )
        if rows and self.with_positions:
            rows = (
                self.postings_frame(
                    [r["term"] for r in rows], with_positions=True,
                    gens=gens,
                )
                .where(hit).select("term", "tf", "positions").collect()
            )
        return [
            (r["term"], int(r["tf"]),
             list(r["positions"]) if self.with_positions else [])
            for r in sorted(rows, key=lambda r: r["term"])
        ]

    def explain(
        self,
        query: str,
        doc_id: int,
        conjunctive: bool = True,
    ) -> dict:
        """Score decomposition for one (query, doc) pair — Lucene
        ``IndexSearcher.explain`` / Solr ``debugQuery=true`` (the
        reference exposes Solr's debug component through CKAN's
        package_search passthrough). The numbers reproduce
        :meth:`search`'s kernel scoring EXACTLY: df/idf come from the
        same live (tombstone-filtered) postings the kernels score with,
        tf/doc_len from the doc's posting row, so
        ``sum(t["score"] for matched t) == search(query)``'s score for
        this doc bit-for-bit (pinned by test).

        Returns::

            {"doc_id", "match", "score", "n_docs", "avgdl", "k1", "b",
             "terms": [{"term", "matched", "tf", "df", "doc_len",
                        "idf", "tf_norm", "score"}, ...]}   # query order

        A conjunctive non-match (some term absent from the doc) reports
        ``match=False, score=0.0`` with the per-term rows it DID match
        (Lucene's "failure to meet condition ... NO_MATCH" explain); a
        disjunctive query scores whatever subset matched.
        """
        self._check_access("extractor_search")
        if isinstance(doc_id, bool) or not isinstance(doc_id, int):
            raise ValidationError(f"doc_id must be an integer, got {doc_id!r}")
        if not isinstance(query, str) or not query.strip():
            raise ValidationError("query must be a non-empty string")
        from ckanext_extractor_spark.operators.build import BM25_B, BM25_K1

        st = self.corpus_stats()
        avgdl = float(st["avgdl"])
        terms = list(
            dict.fromkeys(
                analyze_query(query, config=query_config_for(self.analyzer))
            )
        )
        tls = {tp.term: tp for tp in self._term_postings(terms, st)}
        details: list[dict] = []
        total = 0.0
        n_matched = 0
        for t in terms:
            tp = tls.get(t)
            row: dict = {
                "term": t,
                "matched": False,
                "tf": 0,
                "df": int(len(tp.doc_ids)) if tp is not None else 0,
                "doc_len": 0,
                "idf": float(tp.idf) if tp is not None else 0.0,
                "tf_norm": 0.0,
                "score": 0.0,
            }
            if tp is not None and len(tp.doc_ids):
                i = int(np.searchsorted(tp.doc_ids, doc_id))
                if i < len(tp.doc_ids) and int(tp.doc_ids[i]) == doc_id:
                    tf = float(tp.tfs[i])
                    dl = float(tp.doc_lens[i])
                    tfn = (tf * (BM25_K1 + 1.0)) / (
                        tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / avgdl)
                    )
                    row.update(
                        matched=True,
                        tf=int(tf),
                        doc_len=int(dl),
                        tf_norm=float(tfn),
                        score=float(tp.idf * tfn),
                    )
                    total += tp.idf * tfn
                    n_matched += 1
            details.append(row)
        match = n_matched == len(terms) if conjunctive else n_matched > 0
        return {
            "doc_id": int(doc_id),
            "match": bool(match),
            "score": float(total) if match else 0.0,
            "n_matched": n_matched,
            "n_docs": int(st["n_docs"]),
            "avgdl": avgdl,
            "k1": BM25_K1,
            "b": BM25_B,
            "terms": details,
        }

    def _doc_store_rows(self, doc_ids: list[int]) -> list:
        """Point lookups into doc_store (doc_id IN -> pushed filter)."""
        store = self._read_or_none("doc_store")
        if store is None:
            return []
        return store.where(
            F.col("doc_id").isin([int(d) for d in doc_ids])
        ).collect()

    def _first_positions(
        self, doc_ids: list[int], terms: list[str]
    ) -> dict[int, int]:
        """Earliest index position of ANY of ``terms`` per doc (for docs
        present in the index with positions); empty when the index was
        built without positions. Dead postings are dropped at decode, as
        on every path."""
        if not self.with_positions or not terms or not doc_ids:
            return {}
        from ckanext_extractor_spark.operators.phrase import _positions_by_doc

        wanted = set(doc_ids)
        out: dict[int, int] = {}
        for t in terms:
            for row in self._segment_rows(t):
                for d, pos in _positions_by_doc(row).items():
                    if d in wanted and len(pos):
                        first = int(pos[0])
                        if out.get(d, 1 << 62) > first:
                            out[d] = first
        return out

    def _char_of_position(self, text: str, position: int) -> int:
        """Char offset of the whitespace word containing token
        ``position``: positions are assigned BEFORE stopword removal, so
        cumulative per-word position WIDTHS (the analyzer's _expand_word
        third return — parts only; injected catenated forms stack at
        posInc=0) reproduce the index numbering exactly; stemming renames
        tokens without changing widths. Early-exits at the anchor word —
        no full-text substring search."""
        import re as _re

        from ckanext_extractor_spark.analysis.tokenizer import _expand_word

        cum = 0
        for m in _re.finditer(r"\S+", text):
            cum += _expand_word(m.group(0), self.analyzer)[2]
            if cum > position:
                return m.start()
        return 0

    def snippets(
        self,
        query: str,
        k: int = 10,
        width: int = 60,
        hits: "list[tuple[int, float]] | None" = None,
        conjunctive: bool = True,
        mode: str = "auto",
        phrase: bool = False,
        slop: int = 0,
    ) -> list[tuple[int, float, str]]:
        """Top-k search + a highlight window per hit (the CKAN/Solr
        search-result snippet analog — the reference gets this for free
        from Solr's highlighter over the indexed fulltext).

        Returns (doc_id, score, snippet): ±``width`` chars around the
        first case-insensitive occurrence of any analyzed query term in
        the stored fulltext (head of the doc when no raw substring match,
        e.g. after stemming). Requires store_content=True.

        ``hits`` lets a caller that already ran the query (CLI, a custom
        retrieval mode) window THOSE hits instead of re-searching with
        default semantics (ADVICE r2: 'query --phrase --snippets' must
        not silently fall back to conjunctive auto-mode); otherwise the
        query runs here with the given conjunctive/mode/phrase flags."""
        self._check_access("extractor_snippets")
        _require_query(query)
        _require_k(k)
        if not self.store_content:
            raise ValueError(
                "snippets() needs an index built with store_content=True"
            )
        if hits is None:
            if phrase:
                hits = self.phrase_search(query, k=k, slop=slop)
            else:
                hits = self.search(query, k=k, conjunctive=conjunctive,
                                   mode=mode)
        if not hits:
            return []
        store_rows = self._doc_store_rows([d for d, _ in hits])
        texts = {int(r["doc_id"]): r["content"] for r in store_rows}
        blobs: dict[int, bytes] = {}
        if store_rows and "pos_offsets" in store_rows[0].__fields__:
            blobs = {
                int(r["doc_id"]): r["pos_offsets"]
                for r in store_rows
                if r["pos_offsets"]
            }
        qterms = analyze_query(query, config=query_config_for(self.analyzer))
        # primary anchor source: the INDEX's positions for the query terms
        # in each hit doc (first = earliest analyzed match) — correct
        # under stemming and identifier splitting where a raw substring
        # probe misses; char offsets derive from one whitespace scan with
        # the analyzer's per-word expansion counts (_char_of_position)
        first_pos = self._first_positions(
            [int(d) for d, _ in hits], list(dict.fromkeys(qterms))
        )
        # fallback probes: the raw query first (most specific), then
        # analyzed terms longest-first — a short split token ('x' from an
        # identifier) would otherwise substring-match unrelated text
        probes = [query.lower()] + sorted(qterms, key=len, reverse=True)
        out = []
        for d, s in hits:
            text = texts.get(int(d), "")
            low = text.lower()
            fp = first_pos.get(int(d))
            if fp is not None:
                # stored-offsets fast path (point varbyte decode); docs
                # stored before offsets were enabled re-scan instead
                from ckanext_extractor_spark.operators.offsets import (
                    char_of_position_blob,
                )

                blob = blobs.get(int(d))
                at = (
                    char_of_position_blob(bytes(blob), fp)
                    if blob is not None
                    else None
                )
                if at is None:
                    at = self._char_of_position(text, fp)
            else:
                at = next(
                    (p for p in (low.find(t) for t in probes) if p >= 0), 0
                )
            lo = max(0, at - width)
            hi = min(len(text), at + width)
            snippet = ("…" if lo else "") + text[lo:hi] + (
                "…" if hi < len(text) else ""
            )
            out.append((d, s, snippet))
        return out

    def _all_positions(
        self, doc_ids: list[int], terms: list[str]
    ) -> dict[int, list[int]]:
        """Every index position of ANY of ``terms`` per doc, sorted asc
        (multi-fragment highlighting's anchor set — :meth:`_first_positions`
        generalized); {} when built without positions."""
        if not self.with_positions or not terms or not doc_ids:
            return {}
        from ckanext_extractor_spark.operators.phrase import _positions_by_doc

        wanted = set(doc_ids)
        acc: dict[int, set] = {}
        for t in terms:
            for row in self._segment_rows(t):
                for d, pos in _positions_by_doc(row).items():
                    if d in wanted and len(pos):
                        acc.setdefault(d, set()).update(int(p) for p in pos)
        return {d: sorted(ps) for d, ps in acc.items()}

    def highlight(
        self,
        query: str,
        k: int = 10,
        width: int = 60,
        n_snippets: int = 3,
        hits: "list[tuple[int, float]] | None" = None,
        conjunctive: bool = True,
        mode: str = "auto",
        pre_tag: str | None = None,
        post_tag: str | None = None,
    ) -> list[tuple[int, float, list[str]]]:
        """Multi-fragment highlighting — Solr ``hl.snippets=N`` /
        ``hl.fragsize`` / ``hl.simple.pre|post`` (the reference serves
        CKAN result pages from Solr's standard highlighter). Per hit: up
        to ``n_snippets`` NON-OVERLAPPING ±``width``-char windows, each
        anchored at an analyzed query-term match position not already
        covered by an earlier window, in DOCUMENT order (pinned:
        Lucene's default fragmenter also emits document-order fragments;
        fragment re-scoring is not implemented). Anchors come from the
        index's positions (stored-offset blob fast path, whitespace-scan
        fallback — the same mapping :meth:`snippets` uses), so stemmed /
        identifier-split matches highlight correctly. With
        ``pre_tag``/``post_tag`` every match WORD inside a window is
        wrapped (all in-window anchors, not just the window's seed).
        Docs with no position anchors fall back to one head-of-doc
        fragment. Returns ``[(doc_id, score, [fragment, ...]), ...]``."""
        self._check_access("extractor_snippets")
        _require_query(query)
        _require_k(k)
        if isinstance(n_snippets, bool) or not isinstance(n_snippets, int) \
                or n_snippets < 1:
            raise ValidationError(
                f"n_snippets must be a positive integer, got {n_snippets!r}"
            )
        if (pre_tag is None) != (post_tag is None):
            raise ValidationError(
                "pre_tag and post_tag must be given together"
            )
        if not self.store_content:
            raise ValueError(
                "highlight() needs an index built with store_content=True"
            )
        if hits is None:
            hits = self.search(query, k=k, conjunctive=conjunctive,
                               mode=mode)
        if not hits:
            return []
        store_rows = self._doc_store_rows([d for d, _ in hits])
        texts = {int(r["doc_id"]): r["content"] for r in store_rows}
        blobs: dict[int, bytes] = {}
        if store_rows and "pos_offsets" in store_rows[0].__fields__:
            blobs = {
                int(r["doc_id"]): r["pos_offsets"]
                for r in store_rows
                if r["pos_offsets"]
            }
        qterms = list(dict.fromkeys(
            analyze_query(query, config=query_config_for(self.analyzer))
        ))
        all_pos = self._all_positions([int(d) for d, _ in hits], qterms)
        from ckanext_extractor_spark.operators.offsets import (
            char_of_position_blob,
        )

        import re as _re

        def _frag(text: str, lo: int, hi: int, marks: list[int]) -> str:
            body = text[lo:hi]
            if pre_tag is not None:
                for o in sorted(set(marks), reverse=True):
                    rel = o - lo
                    m = _re.match(r"\S+", body[rel:])
                    end = rel + (len(m.group(0)) if m else 0)
                    body = (body[:rel] + pre_tag + body[rel:end]
                            + post_tag + body[end:])
            return ("…" if lo else "") + body + (
                "…" if hi < len(text) else ""
            )

        out = []
        for d, s in hits:
            text = texts.get(int(d), "")
            blob = blobs.get(int(d))
            chars: list[int] = []
            for p in all_pos.get(int(d), []):
                at = (
                    char_of_position_blob(bytes(blob), p)
                    if blob is not None
                    else None
                )
                if at is None:
                    at = self._char_of_position(text, p)
                chars.append(at)
            chars = sorted(set(chars))
            frags: list[str] = []
            i = 0
            prev_hi = 0
            while i < len(chars) and len(frags) < n_snippets:
                at = chars[i]
                # clamp to the previous window's end so fragments never
                # overlap (an anchor just past a window would otherwise
                # pull `width` chars of already-emitted text back in)
                lo = max(prev_hi, at - width)
                hi = min(len(text), at + width)
                in_win = [o for o in chars[i:] if o < hi]
                i += len(in_win)
                frags.append(_frag(text, lo, hi, in_win))
                prev_hi = hi
            if not frags:  # no anchors (no positions / term not stored)
                frags = [text[: 2 * width]
                         + ("…" if len(text) > 2 * width else "")]
            out.append((d, s, frags))
        return out

    def lineage(self) -> DataFrame:
        self._check_access("extractor_list")
        return read_lineage(self.spark, self.root)

    # -- delete (extractor_delete / private-flip purge) --------------------
    def delete(self, doc_ids: list[int]) -> None:
        """Tombstone docs (plugin.py:117-123; search must no longer find
        them, test_plugin.py:92-106). Appends tombstone rows, which the
        next live masks apply — NO postings or segment files are
        rewritten; compaction reclaims space lazily when a generation's
        dead fraction crosses DEAD_FRAC."""
        self._check_access("extractor_delete")
        doc_ids = _require_doc_ids(doc_ids)
        if not self._acquire_lock(f"delete-{uuid.uuid4().hex[:8]}"):
            raise BuildInProgressError(
                f"index {self.root} has a build in progress: {self.in_progress()}"
            )
        try:
            self._delete_locked(doc_ids)
        finally:
            self._release_lock()

    def _delete_locked(self, doc_ids: list[int]) -> None:
        spark = self.spark
        if not self._gens:
            return
        self._drop_uncommitted_tombstones()
        next_seq = self._seq + 1
        ids = [int(i) for i in doc_ids]
        ids_df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
        write_table(
            ids_df.select("doc_id", F.lit(next_seq).cast("long").alias("seq")),
            self._p("tombstones"),
            mode="append",
        )
        # doc_stats / corpus_stats shrink so N and avgdl stay exact
        ds = self._read_or_none("doc_stats")
        if ds is not None:
            ds2 = ds.join(F.broadcast(ids_df), "doc_id", "left_anti")
            _atomic_overwrite(ds2, self._p("doc_stats"), spark)
            stats = build_corpus_stats(spark.read.parquet(self._p("doc_stats")))
            _atomic_overwrite(stats, self._p("corpus_stats"), spark)
            self._stats_cache = None
        fp = self._read_or_none("field_postings")
        if fp is not None:
            fp2 = fp.join(F.broadcast(ids_df), "doc_id", "left_anti")
            _atomic_overwrite(fp2, self._p("field_postings"), spark)
        fn = self._read_or_none("field_norms")
        if fn is not None:
            fn2 = fn.join(F.broadcast(ids_df), "doc_id", "left_anti")
            _atomic_overwrite(fn2, self._p("field_norms"), spark)
        store = self._read_or_none("doc_store")
        if store is not None:
            st2 = store.join(F.broadcast(ids_df), "doc_id", "left_anti")
            _atomic_overwrite(st2, self._p("doc_store"), spark)
        manifest = read_doc_manifest(spark, self.root)
        updated = manifest.withColumn(
            "status",
            F.when(F.col("doc_id").isin(ids), "deleted").otherwise(
                F.col("status")
            ),
        )
        _atomic_overwrite(updated, self._p("doc_manifest"), spark)
        self._seq = next_seq
        self._write_meta()
        self.cool()
        self.maybe_compact()

    def update_metadata(
        self, changes: dict[int, dict]
    ) -> None:
        """Atomic metadata updates — Solr atomic updates
        (``{"set": v}`` / ``{"set": null}`` = remove) WITHOUT re-extract:
        ``changes`` maps doc_id -> {field: new value}, where a value is a
        string, a list of strings (collapsed ', '-joined, exactly like
        extract's multivalue normalization, reference tasks.py:89-95), or
        ``None`` to remove the field. Content, postings, and segments are
        untouched — only the metadata sidecar tables (doc_stats map,
        field_postings, field_norms) are rewritten, and only the affected
        docs' rows change (Lucene analog: doc-values field update, which
        rewrites the DV file but never the postings).

        Field keys are cleaned like extract (lowercase, '_' -> '-') and
        must match ``indexed_fields`` — a non-indexed key raises (Solr
        rejects fields outside the schema). Unknown or deleted doc ids
        raise. Point-update API: the changes dict is driver-resident by
        construction; bulk rewrites at cluster scale go through
        :meth:`update_metadata_df`, which takes DataFrames end-to-end."""
        import fnmatch as _fn

        self._check_access("extractor_delete")
        if not isinstance(changes, dict) or not changes:
            raise ValidationError(
                "changes must be a non-empty {doc_id: {field: value}} dict"
            )
        pats = [p.lower() for p in self.indexed_fields]
        sets: list[tuple[int, str, str]] = []
        removes: list[tuple[int, str]] = []
        for d, fields in changes.items():
            if isinstance(d, bool) or not isinstance(d, int):
                raise ValidationError(
                    f"doc ids must be integers, got {d!r}"
                )
            if not isinstance(fields, dict) or not fields:
                raise ValidationError(
                    f"changes[{d}] must be a non-empty {{field: value}} "
                    f"dict, got {fields!r}"
                )
            for k, v in fields.items():
                if not isinstance(k, str) or not k.strip():
                    raise ValidationError(
                        f"field names must be non-empty strings, got {k!r}"
                    )
                ck = k.lower().replace("_", "-")
                if not any(p == "*" or _fn.fnmatch(ck, p) for p in pats):
                    raise ValidationError(
                        f"field {ck!r} does not match indexed_fields "
                        f"{tuple(self.indexed_fields)!r}"
                    )
                if v is None:
                    removes.append((int(d), ck))
                    continue
                if isinstance(v, (list, tuple)):
                    if not all(isinstance(x, str) for x in v):
                        raise ValidationError(
                            f"list values must be strings: {ck}={v!r}"
                        )
                    v = ", ".join(v)
                if not isinstance(v, str):
                    raise ValidationError(
                        f"values must be str, list[str], or None: "
                        f"{ck}={v!r}"
                    )
                sets.append((int(d), ck, v))
        spark = self.spark
        set_df = (
            spark.createDataFrame(
                sets, "doc_id long, field string, value string"
            )
            if sets else None
        )
        remove_df = (
            spark.createDataFrame(removes, "doc_id long, field string")
            if removes else None
        )
        self.update_metadata_df(set_df, remove_df)

    def update_metadata_df(
        self,
        set_df: DataFrame | None,
        remove_df: DataFrame | None = None,
    ) -> None:
        """Bulk atomic metadata updates, DataFrames end-to-end (the
        cluster-scale path under :meth:`update_metadata`): ``set_df`` is
        (doc_id, field, value) rows to upsert, ``remove_df`` is
        (doc_id, field) rows to drop. Field names must arrive CLEANED
        (lowercase, '-' form) — the dict wrapper cleans; DataFrame
        callers own their normalization. Any referenced doc id that is
        not currently indexed fails the whole update (atomic: nothing
        publishes). Shape: one anti-join + union rebuilds the affected
        docs' metadata maps; field_postings/field_norms re-derive from
        the rebuilt maps for affected docs only, merged with the same
        kept/dropped discipline extract uses — no driver
        materialization beyond a 1-row validation count."""
        self._check_access("extractor_delete")
        if set_df is None and remove_df is None:
            raise ValidationError("nothing to update")
        ds = self._read_or_none("doc_stats")
        if ds is None or "metadata" not in ds.columns:
            raise ValidationError(
                "index has no metadata sidecar to update"
            )
        touched = None
        for df in (set_df, remove_df):
            if df is None:
                continue
            t = df.select("doc_id").distinct()
            touched = t if touched is None else touched.union(t).distinct()
        from ckanext_extractor_spark.manifest import read_doc_manifest

        live = (
            read_doc_manifest(self.spark, self.root)
            .where(F.col("status") == "indexed")
            .select("doc_id")
        )
        n_bad = touched.join(live, "doc_id", "left_anti").count()
        if n_bad:
            raise ValidationError(
                f"{n_bad} updated doc id(s) are not currently indexed"
            )
        if not self._acquire_lock(f"meta-update-{uuid.uuid4().hex[:8]}"):
            raise BuildInProgressError(
                f"index {self.root} has a build in progress: "
                f"{self.in_progress()}"
            )
        try:
            self._update_metadata_locked(ds, touched, set_df, remove_df)
        finally:
            self._release_lock()

    def _update_metadata_locked(
        self, ds, touched, set_df, remove_df
    ) -> None:
        spark = self.spark
        # rebuild the affected docs' maps: existing EAV rows minus
        # overwritten/removed (doc, field) pairs, plus the set rows
        aff = ds.join(touched, "doc_id", "left_semi")
        eav = aff.select(
            "doc_id",
            F.explode_outer(F.col("metadata")).alias("field", "value"),
        ).where(F.col("field").isNotNull())
        drop_pairs = None
        for df in (set_df, remove_df):
            if df is None:
                continue
            p = df.select("doc_id", "field")
            drop_pairs = p if drop_pairs is None else drop_pairs.union(p)
        if drop_pairs is not None:
            eav = eav.join(
                drop_pairs.distinct(), ["doc_id", "field"], "left_anti"
            )
        if set_df is not None:
            eav = eav.unionByName(
                set_df.select("doc_id", "field", "value")
            )
        newmap = eav.groupBy("doc_id").agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("field", "value")))
            ).alias("_newmeta")
        )
        rebuilt = (
            aff.drop("metadata")
            .join(newmap, "doc_id", "left")
            .withColumn(
                "metadata",
                F.coalesce(
                    "_newmeta",
                    F.map_from_arrays(
                        F.array().cast("array<string>"),
                        F.array().cast("array<string>"),
                    ),
                ),
            )
            .drop("_newmeta")
        )
        ds2 = ds.join(touched, "doc_id", "left_anti").unionByName(
            rebuilt.select(*ds.columns)
        )
        _atomic_overwrite(ds2, self._p("doc_stats"), spark)
        # field tables re-derive from the REBUILT maps for affected docs
        # (extract's kept/dropped merge discipline; norms publish first,
        # matching the extract path's upgrade-branch ordering)
        from ckanext_extractor_spark.operators.fields import (
            build_field_norms,
            build_field_postings,
        )

        rebuilt_meta = spark.read.parquet(self._p("doc_stats")).join(
            touched, "doc_id", "left_semi"
        )
        batch_fp = build_field_postings(rebuilt_meta)
        batch_norms = build_field_norms(batch_fp)
        prev_fp = self._read_or_none("field_postings")
        if prev_fp is not None:
            kept_fp = prev_fp.join(touched, "doc_id", "left_anti")
            prev_norms = self._read_or_none("field_norms")
            if prev_norms is None:
                kept_norms = build_field_norms(kept_fp)
            else:
                kept_norms = prev_norms.join(
                    touched, "doc_id", "left_anti"
                )
            batch_fp = kept_fp.unionByName(batch_fp)
            batch_norms = kept_norms.unionByName(batch_norms)
        _atomic_overwrite(batch_norms, self._p("field_norms"), spark)
        _atomic_overwrite(batch_fp, self._p("field_postings"), spark)
        # fq-filtered hits depend on the metadata just rewritten
        self._query_cache.clear()

    # -- compaction ---------------------------------------------------------
    def snapshot(self, dest_root: str) -> dict:
        """Consistent point-in-time backup of the whole index —
        Solr replication-handler ``command=backup`` / Lucene
        SnapshotDeletionPolicy. Takes the build lock (the copy sees no
        concurrent publish/GC), then copies every table the index root
        holds — generations (whose segments are the only copy of the
        postings), doc_stats/doc_store sidecars, manifest, tombstones,
        ``index_meta.json`` — EXCEPT the lock file and the transient
        ``staging/`` area (tokenize checkpoints), via the FsIO byte-copy
        primitive (no Spark job; on HDFS/S3A it is a
        FileUtil.copy through the same FileSystem the engine publishes
        with). The result is a complete standalone index root: point an
        :class:`ExtractorEngine` at it to restore (it serves queries
        immediately), exactly as a Solr core restores from a backup
        directory. ``dest_root`` must be on the same filesystem scheme
        as the index root and must not be a non-empty directory."""
        self._check_access("extractor_extract")
        if not isinstance(dest_root, str) or not dest_root.strip():
            raise ValidationError(
                f"dest_root must be a non-empty string, got {dest_root!r}"
            )
        dest = dest_root.rstrip("/")
        root = self.root.rstrip("/")
        if (dest == root or dest.startswith(root + "/")
                or root.startswith(dest + "/")):
            raise ValidationError(
                "snapshot destination must be outside the index root"
            )
        if self.fs.exists(dest) and self.fs.listdir(dest):
            raise ValidationError(
                f"snapshot destination {dest!r} exists and is not empty"
            )
        if not self._acquire_lock(f"snapshot-{uuid.uuid4().hex[:8]}"):
            raise BuildInProgressError(
                f"index {self.root} has a build in progress: "
                f"{self.in_progress()}"
            )
        try:
            meta = self._read_meta()
            if meta is None:
                raise ValidationError(f"no index at {self.root} to snapshot")
            self.fs.makedirs(dest)
            copied = []
            for name in sorted(self.fs.listdir(self.root)):
                if name in ("staging", ".build_lock"):
                    continue
                self.fs.copytree(self._p(name), os.path.join(dest, name))
                copied.append(name)
        finally:
            self._release_lock()
        return {
            "dest": dest,
            "generations": len(self._gens),
            "tables": copied,
        }

    def compact(
        self,
        dead_frac: float | None = None,
        max_gens: int | None = None,
    ) -> list[str]:
        """Lock-taking wrapper of maybe_compact for external callers (the
        CLI / a maintenance cron); builds/deletes call maybe_compact while
        already holding the lock."""
        self._check_access("extractor_compact")
        if not self._acquire_lock(f"compact-{uuid.uuid4().hex[:8]}"):
            raise BuildInProgressError(
                f"index {self.root} has a build in progress: "
                f"{self.in_progress()}"
            )
        try:
            return self.maybe_compact(dead_frac, max_gens)
        finally:
            self._release_lock()

    def maybe_compact(
        self,
        dead_frac: float | None = None,
        max_gens: int | None = None,
    ) -> list[str]:
        """Merge generations whose dead fraction (the share of their docs
        their live mask marks dead) crosses ``dead_frac`` and enforce the
        ``max_gens`` generation-count bound. Returns merged gen ids. Only
        victim generations are read/rewritten — the rest of the index is
        untouched (byte-identical files). An index in an older segment
        format is rewritten whole, into one generation."""
        dead_frac = self.DEAD_FRAC if dead_frac is None else dead_frac
        max_gens = self.MAX_GENS if max_gens is None else max_gens
        if not self._gens:
            return []
        if self._segment_format != SEGMENT_FORMAT:
            victims = list(self._gens)
            self._compact(victims)
            return [g["gen"] for g in victims]
        # dead fractions come from the live masks the driver already
        # holds for serving: no Spark job chooses the victims
        dead = {
            gen: 0.0 if docs.live is None else 1.0 - float(docs.live.mean())
            for gen, docs in self._docs_by_gen().items()
        }
        victims = [
            g for g in self._gens if 0 < dead[g["gen"]] >= dead_frac
        ]
        n_after = len(self._gens) - len(victims) + (1 if victims else 0)
        if n_after > max_gens:
            # LSM tier-merge: fold the smallest generations in as well
            rest = sorted(
                (g for g in self._gens if g not in victims),
                key=lambda g: g.get("n_docs", 0),
            )
            need = n_after - max_gens + (0 if victims else 1)
            victims.extend(rest[:need])
        if not victims:
            return []
        if len(victims) == 1 and len(self._gens) == 1:
            # single-generation index: compaction = drop dead rows; only
            # worth it when some are dead
            if not dead[victims[0]["gen"]]:
                return []
        self._compact(victims)
        return [g["gen"] for g in victims]

    def _compact(self, victims: list[dict]) -> None:
        """Merge ``victims`` into one generation: their live postings,
        decoded from their segments (an older-format index: from its
        postings tables), re-encoded through the build's encode path
        against the merged doc set — no re-tokenize."""
        spark = self.spark
        vset = {g["gen"] for g in victims}
        new_id = "compact-" + uuid.uuid4().hex[:10]
        new_seq = max(int(g["seq"]) for g in victims)
        # rewriting every generation leaves the index in the current format
        new_format = (
            SEGMENT_FORMAT if len(victims) == len(self._gens)
            else self._segment_format
        )
        if self._segment_format == SEGMENT_FORMAT:
            live = self.postings_frame(
                with_positions=self.with_positions, gens=victims
            )
            if live is not None and self.with_positions:
                live = with_position_blobs(live)
        else:
            live = self._format1_postings(victims)
        survivors = [g for g in self._gens if g["gen"] not in vset]
        if live is not None:
            # read by the doc-set write, the hot-term count and the encode
            live = live.persist()
            try:
                docs_path = self._p("gens", new_id, "docs")
                write_table(
                    live.groupBy("doc_id").agg(
                        F.max("doc_len").alias("doc_len")
                    ),
                    docs_path,
                )
                docs = self._read_gen_docs(docs_path)
                if docs.doc_ids.size:
                    nb = self._encode_and_write_segments(
                        live,
                        docs,
                        self._encode_tasks(None),
                        self._p("gens", new_id, "segments"),
                    )
                    survivors.append(
                        {
                            "gen": new_id,
                            "seq": new_seq,
                            "n_docs": int(docs.doc_ids.size),
                            "n_buckets": nb,
                        }
                    )
                    self._gen_docs_memo[(new_id, new_seq)] = docs
                else:
                    # every victim posting was dead: drop the victims outright
                    self.fs.rmtree(self._p("gens", new_id))
            finally:
                live.unpersist()
        survivors.sort(key=lambda g: int(g["seq"]))
        self._gens = survivors
        # tombstone GC: a row (d, s) still matters only if some remaining
        # generation older than s contains d
        if self.fs.exists(self._p("tombstones")):
            gen_docs = []
            for g in survivors:
                p = self._gen_docs_path(g)
                if self.fs.exists(p) and self._has_part_files(p):
                    gen_docs.append(
                        spark.read.parquet(p).select("doc_id").withColumn(
                            "gen_seq", F.lit(int(g["seq"]))
                        )
                    )
            if gen_docs:
                alldocs = reduce(DataFrame.unionByName, gen_docs)
                tomb2 = read_parquet_if(spark, self._p("tombstones"))
                needed = tomb2.alias("t").join(
                    alldocs.alias("g"),
                    (F.col("t.doc_id") == F.col("g.doc_id"))
                    & (F.col("g.gen_seq") < F.col("t.seq")),
                    "left_semi",
                )
                _atomic_overwrite(needed, self._p("tombstones"), spark)
            else:
                self.fs.rmtree(self._p("tombstones"))
        self._segment_format = new_format
        self._write_meta()
        self._tomb_count = None
        for g in victims:
            self.fs.rmtree(self._p("gens", g["gen"]))
        self.cool()
        self._gc_staging()

    def _format1_postings(self, gens: list[dict]) -> DataFrame | None:
        """Live postings of an index in the older segment format, from the
        postings table each of its generations kept (named by its
        ``postings_rel`` meta key, which nothing else reads). These rows
        carry doc ids, not ordinals, so the tombstones apply here as a
        join rather than through the live masks."""
        dfs = [
            self.spark.read.parquet(self._p(g["postings_rel"]))
            .where(F.col("term").isNotNull())
            .withColumn("gen_seq", F.lit(int(g["seq"])))
            for g in gens if self._gen_table(g, self._p(g["postings_rel"]))
        ]
        if not dfs:
            return None
        out = reduce(DataFrame.unionByName, dfs)
        tomb = self._read_or_none("tombstones")
        if tomb is not None:
            kills = tomb.where(F.col("seq") <= self._seq).groupBy("doc_id").agg(
                F.max("seq").alias("_kill_seq")
            )
            out = out.join(kills, "doc_id", "left").where(
                F.coalesce(F.col("_kill_seq") <= F.col("gen_seq"), F.lit(True))
            )
        return out.drop("gen_seq", "_kill_seq")

    # -- search ------------------------------------------------------------
    def _synonym_phrase_rows(
        self, query: str, synonyms: dict[str, list[str]], st: dict
    ) -> "DataFrame | None":
        """Phrase-member contributions for multi-word synonym targets
        (VERDICT r4 #4; Solr SynonymGraphFilter expand=true,
        schema.xml:61): for each synonym that analyzes to >= 2 tokens,
        resolve the ADJACENT phrase against the positions index
        (phrase_tf_by_doc over the already-fetched segment blobs) and
        score it as Lucene PhraseWeight BM25 — idf = the multiplicity-
        weighted sum of the member tokens' idfs, tf = phrase start
        count, the same dl norms. Returns (doc_id, gid, term_score) to
        union into bm25_search_synonyms' member scores, or None when no
        synonym is multi-token. gid numbering replicates the operator's
        own analysis (same analyze_query call) so groups line up.

        Scale shape: term blobs come from the warm segment cache (the
        phrase_search serving path); the emitted frame is one row per
        (phrase-matching doc, group) — phrase matches, not the corpus.
        A phrase whose match set alone exceeds driver memory belongs on
        phrase_search_distributed; synonyms-with-phrases is a serving
        feature, pinned to the warm path like phrase_search."""
        import math

        from ckanext_extractor_spark.operators.build import BM25_B, BM25_K1
        from ckanext_extractor_spark.operators.phrase import (
            phrase_tf_by_doc,
        )
        # analyze with the ENGINE's query config (not the default
        # QUERY_CONFIG) so gid numbering lines up with
        # bm25_search_synonyms under simple/stemmed analyzers
        # (code-review r5 finding)
        qconf = query_config_for(self.analyzer)
        base_terms = list(
            dict.fromkeys(analyze_query(query, None, qconf))
        )
        specs: "list[tuple[int, list[str]]]" = []
        for gid, t in enumerate(base_terms):
            for syn in synonyms.get(t, []):
                toks = analyze_query(syn, None, qconf)
                if len(toks) >= 2:
                    specs.append((gid, toks))
        if not specs:
            return None
        if not self.with_positions:
            raise ValidationError(
                "multi-word synonyms need a positions index "
                "(with_positions=True)"
            )
        from collections import Counter

        n_docs, avgdl = st["n_docs"], st["avgdl"]
        rows: "list[tuple[int, int, float]]" = []
        for gid, toks in specs:
            uniq = list(dict.fromkeys(toks))
            dfs = self._df_for_terms(uniq)
            if any(dfs.get(t, 0) == 0 for t in uniq):
                continue  # a missing token ⇒ the phrase matches nothing
            shard = {t: self._segment_rows(t) for t in uniq}
            tf_map = phrase_tf_by_doc(shard, toks)
            if not tf_map:
                continue
            cnt = Counter(toks)
            pidf = sum(
                c * math.log(
                    1.0 + (n_docs - dfs[t] + 0.5) / (dfs[t] + 0.5)
                )
                for t, c in cnt.items()
            )
            for d, (ptf, dl) in tf_map.items():
                s = pidf * (ptf * (BM25_K1 + 1.0)) / (
                    ptf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / avgdl)
                )
                rows.append((int(d), int(gid), float(s)))
        # resolved-but-no-matches is an EMPTY frame, not None: None now
        # means "caller never resolved phrase members" and makes the
        # operator raise (code-review r5 finding)
        return self.spark.createDataFrame(
            rows, "doc_id long, gid int, term_score double"
        )

    def search(
        self,
        query: str,
        k: int = 10,
        conjunctive: bool = True,
        mode: str = "auto",
        synonyms: dict[str, list[str]] | None = None,
        exclude: str | None = None,
        min_match: int | None = None,
        fq: dict[str, str] | None = None,
        start: int = 0,
    ) -> list[tuple[int, float]]:
        """Top-k BM25 over the encoded segments.

        ``start`` (Solr pagination ``start``/``rows``): skip the first
        ``start`` ranked hits — the engine retrieves the top
        ``start + k`` window and slices, exactly Solr's deep-paging cost
        model (and why result windows, not pages, are what the query
        cache keys on).

        ``fq`` (Solr filter query / Lucene FILTER clause — the
        reference's package_search always narrows by fq on the dynamic
        metadata fields, plugin.py:40,140): ``{field: value_query}``
        restricts results to docs whose metadata ``field`` contains ALL
        analyzed tokens of ``value_query`` (multiple fields AND
        together). Filters never change surviving docs' scores — idf and
        avgdl stay the full-corpus values. Kernel modes restrict the
        decoded lists pre-scoring (one searchsorted per list — sound for
        WAND/MaxScore since block maxima stay valid loose bounds); the
        slow path left-semi-joins the filter match DataFrame so the
        filter set never touches the driver. An fq forces eager decode.
        Size routing is automatic: a filter matching more than
        FILTER_CLOSURE_MAX docs (likewise an exclude whose terms' df
        sum exceeds it) reroutes the query to the slow path — no
        driver-side id array above the threshold, whatever mode was
        asked for (results stay rank-identical, pinned by test).

        ``min_match`` (Solr ``mm`` / Lucene minimumNumberShouldMatch):
        with ``conjunctive=False``, keep only docs matching at least that
        many distinct query terms (``min_match == n_terms`` degenerates
        to conjunctive AND). Supported by the exact kernel and the slow
        path; explicit ``mode='wand'/'maxscore'`` is rejected — their
        pruning thresholds assume unfiltered disjunctive top-k, so a
        post-filter could silently drop qualifying docs.

        ``exclude``: negative-terms clause (Lucene MUST_NOT / Solr
        ``-term``): analyzed with the query chain; docs containing ANY
        excluded term are dropped BEFORE scoring-independent top-k, and
        surviving docs score exactly as without the clause (a prohibited
        clause filters, never rescores). Kernel modes drop excluded docs
        from the decoded lists (one searchsorted per list); the slow path
        anti-joins. An exclude forces eager decode (the lazy block path
        is skipped).

        mode:
          'auto'     — vectorized exact merge over decoded lists (measured
                       fastest at driver scale: intersect/bincount beat the
                       doc-at-a-time python loop by ~300x),
          'maxscore' — batch MaxScore: vectorized essential-list skipping;
                       wins over exact on disjunctive queries mixing a
                       rare term with huge common lists (candidates stay
                       ~the rare list; common lists become log-time
                       gathers),
          'wand'     — block-max WAND (doc-at-a-time python loop; kept as
                       the literal BMW algorithm, see maxscore for the
                       vectorized skipper),
          'slow'     — DataFrame algebra over the decoded postings (oracle),
        Synonym queries take the grouped slow path (T6 is a query-rewrite
        feature, not a hot-loop one). All paths are rank-identical.

        Results are memoized per (query, k, conjunctive, mode) — the Solr
        queryResultCache analog — and invalidated by any index mutation
        (extract/delete/compact call cool(); metadata updates clear it)."""
        self._check_access("extractor_search")
        # cache-hit fast path (optimization r6): a hit means this EXACT
        # argument tuple already passed every validation below on its
        # first (computing) call — the key covers all arguments that
        # reach _search_uncached — so repeat queries skip straight to
        # the memo. Keys tag every argument with its type, so a value
        # that hashes equal across types (True == 1, 2.0 == 2) can't hit
        # a validated entry; unhashable/malformed arguments fall through
        # to the validators, which raise the same errors as before.
        ck = None
        if synonyms is None and (
            fq is None or (isinstance(fq, dict) and fq)
        ):
            # (a falsy non-None fq — {} or [] — must NOT alias the
            # fq=None cache key; it falls through to the validator)
            try:
                ck = _query_cache_key(
                    query, k, conjunctive, mode, exclude, min_match, fq,
                    start,
                )
                hit = self._query_cache.get(ck)
            except (TypeError, AttributeError):
                ck = hit = None
            if hit is not None:
                self._query_cache.move_to_end(ck)
                return list(hit)
        self._require_segment_format()
        _require_query(query)
        _require_k(k)
        _require_bool("conjunctive", conjunctive)
        if mode not in ("auto", "wand", "exact", "maxscore", "slow"):
            raise ValidationError(f"unknown mode {mode!r}")
        if exclude is not None:
            _require_query(exclude)
        if min_match is not None:
            if (
                isinstance(min_match, bool)
                or not isinstance(min_match, int)
                or min_match < 1
            ):
                raise ValidationError(
                    f"min_match must be a positive integer, got {min_match!r}"
                )
            if conjunctive:
                raise ValidationError(
                    "min_match applies to disjunctive queries; pass "
                    "conjunctive=False (conjunctive AND already requires "
                    "every term)"
                )
            if mode in ("wand", "maxscore"):
                raise ValidationError(
                    "min_match is supported by mode='auto'/'exact'/'slow' "
                    "only (WAND/MaxScore pruning assumes unfiltered top-k)"
                )
        if fq is not None:
            if (
                not isinstance(fq, dict)
                or not fq
                or not all(
                    isinstance(f, str) and f.strip()
                    and isinstance(v, str) and v.strip()
                    for f, v in fq.items()
                )
            ):
                raise ValidationError(
                    "fq must be a non-empty {field: value_query} dict of "
                    f"non-empty strings, got {fq!r}"
                )
        if (
            isinstance(start, bool)
            or not isinstance(start, int)
            or start < 0
        ):
            raise ValidationError(
                f"start must be a non-negative integer, got {start!r}"
            )
        # arguments that pass validation always build the key above, and
        # its lookup missed: ck is None only for synonym queries
        out = self._search_uncached(query, k + start, conjunctive, mode,
                                    synonyms, exclude, min_match, fq)
        if start:
            out = out[start:]
        if ck is not None:
            self._query_cache[ck] = list(out)
            if len(self._query_cache) > self.QUERY_CACHE_ENTRIES:
                self._query_cache.popitem(last=False)
        return out

    QUERY_CACHE_ENTRIES = 4096
    # auto-mode routes disjunctive queries whose posting-list union exceeds
    # this many rows to maxscore_topk (rank-identical; see search())
    MAXSCORE_AUTO_ROWS = 200_000

    def _search_uncached(
        self,
        query: str,
        k: int,
        conjunctive: bool,
        mode: str,
        synonyms: dict[str, list[str]] | None,
        exclude: str | None = None,
        min_match: int | None = None,
        fq: dict[str, str] | None = None,
    ) -> list[tuple[int, float]]:
        st = self.corpus_stats()
        fq_df = self._fq_match_df(fq)
        if fq is not None and fq_df is None:
            return []
        ex_terms: list[str] = (
            list(
                dict.fromkeys(
                    analyze_query(
                        exclude, config=query_config_for(self.analyzer)
                    )
                )
            )
            if exclude
            else []
        )
        if synonyms:
            if ex_terms:
                raise ValidationError(
                    "exclude is not supported together with synonyms"
                )
            if fq is not None:
                raise ValidationError(
                    "fq is not supported together with synonyms"
                )
            from ckanext_extractor_spark.operators.query import (
                bm25_search_synonyms,
            )

            qconf = query_config_for(self.analyzer)
            base = list(dict.fromkeys(analyze_query(query, config=qconf)))
            phrase_rows = self._synonym_phrase_rows(query, synonyms, st)
            postings = self.postings_frame(base + [
                tok for t in base for syn in synonyms.get(t, [])
                for tok in analyze_query(syn, config=qconf)
            ])
            if postings is None:
                return []
            postings = postings.persist()  # decoded once, see _slow_search
            try:
                rows = bm25_search_synonyms(
                    postings,
                    build_dictionary(postings, self.n_buckets),
                    st["n_docs"], st["avgdl"], query, synonyms,
                    k=k, conjunctive=conjunctive,
                    phrase_rows=phrase_rows,
                    config=qconf,
                ).collect()
            finally:
                postings.unpersist()
            return [(r["doc_id"], r["score"]) for r in rows]
        kernel = mode in ("auto", "wand", "exact", "maxscore")
        fq_rows: "list | None" = None
        if kernel:
            # size routing (VERDICT r3 #1): the kernel paths materialize
            # fq/exclude match sets as driver-side id arrays — sound only
            # while those sets are small. Above FILTER_CLOSURE_MAX the
            # query reroutes to the slow path's semi-/anti-joins, which
            # keep the filter set cluster-side. The exclude gate is a
            # term-df sum (segment metadata, no blob decode — free on the
            # warm path); the fq gate piggybacks on the fetch itself:
            # limit(max+1) both sizes the match set and returns it when
            # small, so the common case stays one bounded Spark job.
            if ex_terms and sum(
                self._df_for_terms(ex_terms).values()
            ) > self.FILTER_CLOSURE_MAX:
                kernel = False
            elif fq_df is not None:
                fq_rows = fq_df.limit(self.FILTER_CLOSURE_MAX + 1).collect()
                if len(fq_rows) > self.FILTER_CLOSURE_MAX:
                    kernel = False
        if kernel:
            from ckanext_extractor_spark.operators.wand import (
                exact_topk,
                maxscore_topk,
                maxscore_topk_lazy,
                wand_topk,
            )

            terms = list(
                dict.fromkeys(
                    analyze_query(query, config=query_config_for(self.analyzer))
                )
            )
            if not terms:
                return []
            # lazy-block MaxScore fast path: disjunctive queries on an
            # index without dead postings decode ONLY the blocks the
            # scorer visits — non-essential (usually the biggest) lists
            # stop paying a full-blob decode. idf comes from segment-row
            # n_postings metadata, exact only while no generation has a
            # dead ordinal; any other index falls through to the eager
            # decode below (compaction restores the fast path).
            ex_ids = np.array([], dtype=np.int64)
            if ex_terms:
                ex_tls = self._term_postings(ex_terms, st)
                if ex_tls:
                    ex_ids = np.unique(
                        np.concatenate([tp.doc_ids for tp in ex_tls])
                    ).astype(np.int64)
            if (
                not ex_ids.size
                and min_match is None
                and fq_df is None
                and not conjunctive
                and mode in ("auto", "maxscore")
                and all(d.live is None for d in self._docs_by_gen().values())
                # every term already decoded in the LRU: the eager
                # kernel scores memoized arrays with zero decode —
                # strictly cheaper than the lazy path's per-call block
                # re-decode (measured 53 ms -> ~5 ms on the bench's warm
                # 3-term OR; optimization r6). Cold queries still take
                # the lazy path below — nothing is decoded yet.
                and not all(t in self._decoded_cache for t in terms)
            ):
                ltls = self._lazy_term_postings(terms, st)
                union_rows = sum(len(tp) for tp in ltls)
                if (
                    mode == "maxscore"
                    or union_rows > self.MAXSCORE_AUTO_ROWS
                ):
                    return maxscore_topk_lazy(
                        ltls, k, st["avgdl"], conjunctive=False
                    )
            tls = self._term_postings(terms, st)
            if ex_ids.size:
                from ckanext_extractor_spark.operators.wand import (
                    exclude_docs,
                )

                tls = [exclude_docs(tp, ex_ids) for tp in tls]
            if fq_df is not None:
                # warm/kernel path: the filter match set comes to the
                # driver as a sorted id array — the size gate above
                # guarantees it is at most FILTER_CLOSURE_MAX rows
                # (larger sets took the slow path's semi-join instead)
                from ckanext_extractor_spark.operators.wand import (
                    restrict_docs,
                )

                fq_ids = np.array(
                    sorted(r["doc_id"] for r in fq_rows),
                    dtype=np.int64,
                )
                if not fq_ids.size:
                    return []
                tls = [restrict_docs(tp, fq_ids) for tp in tls]
            tls = [tp for tp in tls if len(tp.doc_ids)]
            if conjunctive and len(tls) < len(terms):
                return []
            fn = {
                "wand": wand_topk,
                "maxscore": maxscore_topk,
            }.get(mode, exact_topk)
            if mode == "auto" and not conjunctive and min_match is None and sum(
                len(tp.doc_ids) for tp in tls
            ) > self.MAXSCORE_AUTO_ROWS:
                # big disjunctive unions: the bincount over every posting
                # is the cost; MaxScore's essential-list skip is
                # rank-identical (pinned by fuzz) and orders of magnitude
                # cheaper when upper bounds are skewed
                fn = maxscore_topk
            if fn is exact_topk:
                return fn(tls, k, st["avgdl"], conjunctive=conjunctive,
                          min_match=min_match)
            return fn(tls, k, st["avgdl"], conjunctive=conjunctive)
        return self._slow_search(
            query, k, conjunctive, ex_terms, min_match, fq_df, st
        )

    def _slow_search(
        self, query, k, conjunctive, ex_terms, min_match, include_df, st
    ) -> list[tuple[int, float]]:
        """The DataFrame oracle: ``bm25_search`` over the decoded live
        postings of the query's and the excluded terms only, with the
        dictionary (a term's df = its live posting count) built over the
        same frame. The frame is persisted for this one query, so the
        match branch and the dictionary share one decode."""
        qconf = query_config_for(self.analyzer)
        terms = list(dict.fromkeys(analyze_query(query, config=qconf)))
        postings = self.postings_frame(terms + ex_terms) if terms else None
        if postings is None:
            return []
        postings = postings.persist()
        try:
            rows = bm25_search(
                postings, build_dictionary(postings, self.n_buckets),
                st["n_docs"], st["avgdl"], query,
                k=k, conjunctive=conjunctive, config=qconf,
                exclude_terms=ex_terms or None,
                min_match=min_match,
                include_df=include_df,
            ).collect()
        finally:
            postings.unpersist()
        return [(r["doc_id"], r["score"]) for r in rows]

    # -- serving caches ------------------------------------------------------
    def _segments_union(
        self, terms: list[str] | None = None, gens: list[dict] | None = None
    ) -> DataFrame | None:
        """The segment tables of ``gens`` (default: all generations),
        bucket/term pruned when terms are given, each row tagged with its
        generation's seq (``gen_seq``) and id (``gen``, whose doc set and
        live mask its ordinals index). A missing segments dir raises:
        it is the generation's only copy of the postings (a dir with no
        part files is an empty generation)."""
        from ckanext_extractor_spark.operators.segments import read_segments

        dfs = [
            read_segments(
                self.spark, self._gen_segments_path(g), terms,
                self._gen_buckets(g),
            )
            .withColumn("gen_seq", F.lit(int(g["seq"])))
            .withColumn("gen", F.lit(g["gen"]))
            for g in (self._gens if gens is None else gens)
            if self._gen_table(g, self._gen_segments_path(g))
        ]
        return reduce(DataFrame.unionByName, dfs) if dfs else None

    def _gen_table(self, g: dict, path: str) -> bool:
        """True when generation ``g``'s table at ``path`` has part files
        (none: an empty generation); raises when the dir is missing."""
        if not self.fs.exists(path):
            raise FileNotFoundError(
                f"generation {g['gen']} of index {self.root} has no table "
                f"at {path}; the index is incomplete"
            )
        return self._has_part_files(path)

    def postings_frame(
        self,
        terms: list[str] | None = None,
        with_positions: bool = False,
        gens: list[dict] | None = None,
    ) -> DataFrame | None:
        """Live postings ``(term, doc_id, tf, doc_len[, positions])``
        decoded from the segments of ``gens`` (default: all), restricted
        to ``terms`` (bucket-pruned) when given: one
        ``wand.decode_segments`` plan, whose broadcast live masks drop
        dead postings as on every other path; ``positions`` are sorted
        in-doc positions. None when no generation holds a segment row."""
        from ckanext_extractor_spark.operators.wand import decode_segments

        if terms is not None and not terms:
            return None
        seg = self._segments_union(
            None if terms is None else list(dict.fromkeys(terms)), gens
        )
        if seg is None:
            return None
        rows = decode_segments(
            seg, self._gen_docs_broadcast(), None, with_positions
        )
        return rows.select(
            "term", "doc_id", "tf", "doc_len",
            *(["positions"] if with_positions else []),
        )

    def warm(self, max_cache_bytes: int | None = None) -> "ExtractorEngine":
        """Enable low-latency serving — the analog of Solr's filter/document
        caches (solrconfig.xml:319-347). Per-query cost becomes a term
        lookup + numpy decode (memoized), no Spark job at all for cache
        hits.

        ``max_cache_bytes`` bounds the DECODED postings cache (LRU,
        evicted by insertion recency). Every generation's segment rows
        (compressed blobs and block metadata) are preloaded as one
        columnar :class:`~ckanext_extractor_spark.operators.segread.SegmentStore`
        when their resident size — the uncompressed column bytes that the
        parquet footers record, read before loading — fits
        RAW_PRELOAD_BYTES and the given budget; only a looked-up term's
        rows ever become Python objects. Otherwise serving is lazy: a
        cache miss does a bucket-pruned parquet read of just that term
        and joins a byte-bounded LRU of raw rows. Cold and warm paths
        return identical results (pinned by tests)."""
        budget = max_cache_bytes or self.DECODED_BUDGET_BYTES
        self._decoded_budget = budget
        self._decoded_cache = OrderedDict()
        self._decoded_bytes = 0
        self._store = None
        self._rows_cache = None
        preload_cap = min(self.RAW_PRELOAD_BYTES, budget)
        if self._segments_resident_bytes() <= preload_cap:
            self._store = self._load_store()
        else:
            # lazy serving: the raw-row cache is LRU-bounded by the same
            # budget class as the preload path — without accounting, a
            # long-tail query workload grows it without bound and defeats
            # the memory cap warm() exists to provide (ADVICE r2,
            # api.py:1244)
            self._rows_cache = OrderedDict()
            self._raw_bytes = 0
            self._raw_budget = preload_cap
        self._docs_by_gen()  # build the live masks
        # Slow-path warming (Solr firstSearcher analog): execute ONE
        # query through the oracle path's physical shape — the decode
        # plan over the two warming terms' segment rows, then the BM25
        # aggregate — so whole-stage codegen, AQE and the Python decode
        # worker start here instead of inside the first real slow query.
        # Nothing is cached but compiled code; the result is discarded.
        try:
            wt = self._warming_terms()
            if wt:
                self._slow_search(
                    " ".join(wt), 1, True, [], None, None,
                    self.corpus_stats(),
                )
        except Exception:  # noqa: BLE001 — warming must never fail warm()
            pass
        return self

    @property
    def _lazy_serve(self) -> bool:
        """Warmed with rows served through the lazy raw-row LRU."""
        return self._rows_cache is not None

    def _load_store(self) -> SegmentStore:
        """Every generation's segment table as one SegmentStore: pyarrow
        reads on a local root, one Spark ``toArrow()`` elsewhere."""
        docs = self._docs_by_gen()
        if self.fs.is_local:
            from ckanext_extractor_spark.operators.segread import (
                read_segment_table,
            )

            return SegmentStore(
                (
                    read_segment_table(p, list(SEGMENT_ROW_COLUMNS)),
                    g["seq"], docs[g["gen"]],
                )
                for g, p in self._segment_gens()
            )
        import pyarrow.compute as pc

        seg = self._segments_union()
        if seg is None:
            return SegmentStore([])
        table = seg.toArrow()
        return SegmentStore(
            (
                table.filter(pc.field("gen") == g["gen"]),
                g["seq"], docs[g["gen"]],
            )
            for g in self._gens
        )

    def _segment_gens(self) -> "list[tuple[dict, str]]":
        """(generation, segments path) of every generation whose segments
        dir holds part files, in generation order."""
        out = []
        for g in self._gens:
            p = self._gen_segments_path(g)
            if self.fs.exists(p) and self._has_part_files(p):
                out.append((g, p))
        return out

    def _warming_terms(self) -> list[str]:
        """Two real index terms with the smallest df, for the warm()
        warming query: the intermediate stages must carry rows (an
        all-miss query leaves AQE's downstream stages uncompiled — the
        whole point of warming), and the smallest lists make the warming
        execution as cheap as one scan + a handful of rows. Sources, in
        order: the preloaded store's per-term df; a pyarrow
        metadata-only read of one term_bucket partition (term +
        n_postings columns — zero blob pages) on local roots; else none
        (plan pre-build still happened; non-local roots skip execution
        warming)."""
        if self._store is not None:
            # terms are sorted, so a stable sort by df breaks ties by term
            first = np.argsort(self._store.df, kind="stable")[:2]
            return [self._store.terms[i] for i in first]
        stats: dict[str, int] = {}
        if self.fs.is_local:
            from ckanext_extractor_spark.operators.segread import (
                read_bucket_term_stats,
            )

            for _, p in self._segment_gens():
                for t, n in read_bucket_term_stats(p, bucket=0):
                    stats[t] = stats.get(t, 0) + int(n)
        return [t for t, _ in sorted(stats.items(), key=lambda kv: (kv[1], kv[0]))[:2]]

    def _segments_disk_bytes(self) -> int:
        return sum(
            self.fs.tree_size(self._gen_segments_path(g)) for g in self._gens
        )

    def _segments_resident_bytes(self) -> int:
        """What the segment tables take once decoded into memory: their
        footers' uncompressed column bytes."""
        return sum(
            self.fs.parquet_data_bytes(p) for _, p in self._segment_gens()
        )

    def cool(self) -> None:
        self._store = None
        self._rows_cache = None
        self._raw_bytes = 0
        self._decoded_cache = OrderedDict()
        self._decoded_bytes = 0
        self._stats_cache = None
        self._tomb_count = None
        self._query_cache.clear()

    # NOTE on Arrow batch size: 1024 (the session default) wins for the
    # encode kernel too — A/B measured 65536-row batches ~15-20% SLOWER
    # at local[4] (JVM ArrowWriter buffer growth + cache pressure beat
    # the per-batch overhead savings). Do not "optimize" this upward
    # without a paired measurement.
    ENCODE_ROWS_PER_TASK = 500_000  # ~64 MB of posting rows per sort/encode task
    TOKENS_PER_BUCKET = 65_536  # tokens per term bucket of a generation

    def _encode_tasks(self, n_rows: int | None) -> int:
        """Size the segment-encode shuffle by DATA, not cores: oversized
        partitions make sortWithinPartitions spill and the streaming
        encoder churn (measured: 33M rows at 8 partitions = 208 s; at 64
        partitions = 56 s). AQE coalesces small cases back down."""
        nsp = int(
            self.spark.conf.get("spark.sql.shuffle.partitions", "32")
        )
        if not n_rows:
            return nsp
        want = max(nsp, int(n_rows) // self.ENCODE_ROWS_PER_TASK + 1)
        return min(want, 4096)

    def _encode_and_write_segments(
        self, postings: DataFrame, docs: GenDocs, n_tasks: int, path: str
    ) -> int:
        """Encode + atomically publish one generation's segments (doc set
        ``docs``) into ``_bucket_count(docs)`` term buckets, returned for
        the generation's meta entry. Salting is df-driven within the
        generation: hot terms split by doc hash, so no single encode task
        owns a whole hot list."""
        n_buckets = self._bucket_count(docs)
        segments = encode_segments(
            salted_postings_auto(postings, n_buckets, self.salt_threshold),
            docs,
            with_positions=self.with_positions,
            n_tasks=n_tasks,
            n_buckets=n_buckets,
        )
        _atomic_overwrite(segments, path, spark=self.spark, write=write_segments)
        return n_buckets

    def _bucket_count(self, docs: GenDocs) -> int:
        """Term buckets for a generation of ``docs``: one per
        TOKENS_PER_BUCKET of its tokens, at least one and at most the
        index-level ``n_buckets``. Every segment file has a fixed write and
        open cost, so a small generation gets few buckets; it depends on
        the doc set alone, so a compaction gets the count a fresh build of
        the same live docs gets."""
        tokens = int(docs.doc_lens.sum())
        return min(self.n_buckets, max(1, -(-tokens // self.TOKENS_PER_BUCKET)))

    def _gen_buckets(self, g: dict) -> int:
        """The bucket count generation ``g`` was written with: its meta
        entry, or the index-level ``n_buckets`` for a generation written
        before the count was recorded per generation."""
        return int(g.get("n_buckets", self.n_buckets))

    def _local_segment_rows(
        self, terms: list[str] | None, columns: list[str] | None = None
    ) -> "list[dict] | None":
        """Every generation's (bucket/term-pruned) segment rows as dicts
        via a driver-side pyarrow read — None when the index root is not
        on a local filesystem (callers fall back to the Spark read).

        Optimization r6 (guide §1/§5): these rows were ALWAYS driver-
        collected point lookups (bounded by per-term df / preload byte
        budgets); serving them with pyarrow reads the same files with the
        same hive-partition + row-group pruning, minus a full Spark job
        of overhead per lookup (~0.25 s on local[32] — measured as ~95%
        of cold-query latency). Each row carries its generation's seq
        under ``"gen_seq"``, as the Spark union's rows do; full rows
        (``columns`` None) also carry its GenDocs under ``"docs"``."""
        if not self.fs.is_local:
            return None
        from ckanext_extractor_spark.operators.segread import (
            read_segment_rows,
        )

        out: list[dict] = []
        want = columns if columns is not None else list(SEGMENT_ROW_COLUMNS)
        for g, p in self._segment_gens():
            rows = read_segment_rows(
                p, terms, self._gen_buckets(g), columns=want
            )
            docs = self._gen_docs(g) if columns is None and rows else None
            for r in rows:
                r["gen_seq"] = int(g["seq"])
                if docs is not None:
                    r["docs"] = docs
            out.extend(rows)
        return out

    def _read_rows(self, terms: "list[str] | None") -> list[dict]:
        """Every generation's (bucket/term-pruned) segment rows as dicts,
        each carrying its generation's GenDocs under ``"docs"`` — what
        the driver-side decoders resolve ordinals through."""
        rows = self._local_segment_rows(terms)
        if rows is None:
            seg = self._segments_union(terms)
            docs = self._docs_by_gen()
            rows = [] if seg is None else [
                dict(r.asDict(), docs=docs[r["gen"]]) for r in seg.collect()
            ]
        return rows

    def _fetch_rows(self, terms: list[str]) -> dict[str, list]:
        """Cold bucket-pruned segment read for `terms` across generations."""
        out: dict[str, list] = {t: [] for t in terms}
        for r in self._read_rows(terms):
            out.setdefault(r["term"], []).append(r)
        return out

    def _rows_by_term(self, terms: list[str]) -> dict[str, list]:
        """Raw segment rows per term ([] for a term with none) — the one
        row source of the driver kernels: the preloaded store, the lazy
        raw-row LRU (misses fetched in one cold read, then inserted), or
        a cold bucket-pruned read."""
        if self._store is not None:
            return {t: self._store.rows(t) for t in terms}
        if self._rows_cache is None:
            return self._fetch_rows(terms)
        out = {t: self._rows_cache[t] for t in terms if t in self._rows_cache}
        missing = [t for t in terms if t not in out]
        if missing:
            for t, rows in self._fetch_rows(missing).items():
                self._raw_put(t, rows)
                out[t] = rows
        return out

    def _segment_rows(self, term: str) -> list:
        """Raw segment rows (blobs) for one term. Used by phrase
        verification."""
        return self._rows_by_term([term])[term]

    def search_field_frame(self, field: str, query: str) -> DataFrame | None:
        """Docs whose metadata `field` contains ALL query tokens (Q5 —
        the reference's per-key dynamic-field filter query,
        plugin.py:40,140; boolean AND, unscored like Solr fq) as a
        cluster-side ``doc_id`` DataFrame — the /export-shaped form for
        pipeline composition (the match_frame pattern): at 100 TB a
        field filter can match billions of docs, so the set must stay a
        Spark relation joined downstream, never a driver list. ``None``
        when the index is empty."""
        self._check_access("extractor_search")
        from ckanext_extractor_spark.operators.fields import search_field

        fp = self._read_or_none("field_postings")
        if fp is None:
            return None
        return search_field(fp, field, query)

    def search_field(self, field: str, query: str) -> list[int]:
        """Sorted doc_id list form of :meth:`search_field_frame` —
        size-routed through FILTER_CLOSURE_MAX (the fq/exclude gate,
        VERDICT r4 #1): the collect is bounded to max+1 rows, and a
        match set that exceeds the bound raises instead of silently
        materializing an unbounded list on the driver; callers with
        big filters compose on the frame form."""
        frame = self.search_field_frame(field, query)
        if frame is None:
            return []
        rows = frame.limit(self.FILTER_CLOSURE_MAX + 1).collect()
        if len(rows) > self.FILTER_CLOSURE_MAX:
            raise ValidationError(
                f"search_field match set exceeds FILTER_CLOSURE_MAX "
                f"({self.FILTER_CLOSURE_MAX}) doc ids; use "
                f"search_field_frame() and keep the set cluster-side"
            )
        return sorted(int(r["doc_id"]) for r in rows)

    def join_search(
        self,
        subquery: str,
        from_field: str,
        to_field: str,
        k: int = 10,
        conjunctive: bool = True,
        min_match: int | None = None,
    ) -> list[int]:
        """Join query parser — Solr ``{!join from=f1 to=f2}subq``: the
        docs whose metadata ``to_field`` value equals SOME ``from_field``
        value of SOME doc matching ``subquery`` (Solr's index-time
        self-join; both sides this index). Like Solr, the join is
        constant-scoring (``score=none``, the default) — results are the
        sorted doc-id list, truncated to ``k``, exactly the fq-style
        shape :meth:`search_field` returns. Multi-valued metadata joins
        on ANY value (EAV rows are already one row per value).

        Distributed shape: match kernel (unscored, k=None) ⋈ from-side
        EAV rows → DISTINCT join keys → semi-join against the to-side
        EAV rows → sort + limit. Both sides stay cluster-side; the
        distinct key set is the shuffle payload, never the match set."""
        self._check_access("extractor_search")
        _require_query(subquery)
        _require_k(k)
        _require_bool("conjunctive", conjunctive)
        for name, f in (("from_field", from_field), ("to_field", to_field)):
            if not isinstance(f, str) or not f.strip():
                raise ValidationError(
                    f"{name} must be a non-empty string, got {f!r}"
                )
        mm = self._match_and_meta(subquery, conjunctive, min_match,
                                  scored=False)
        if mm is None:
            return []
        per_doc, dm = mm
        keys = (
            per_doc.select("doc_id")
            .join(
                dm.where(F.col("field") == from_field)
                .select("doc_id", "value"),
                "doc_id",
            )
            .select("value")
            .distinct()
        )
        rows = (
            dm.where(F.col("field") == to_field)
            .select("doc_id", "value")
            .join(keys, "value", "left_semi")
            .select("doc_id")
            .distinct()
            .orderBy(F.asc("doc_id"))
            .limit(min(k, int(self.corpus_stats()["n_docs"])))
            .collect()
        )
        return [int(r["doc_id"]) for r in rows]

    _BLOCKJOIN_SCORE_MODES = ("max", "total", "avg", "min", "none")

    def parent_search(
        self,
        child_query: str,
        of_field: str,
        k: int = 10,
        score_mode: str = "max",
        conjunctive: bool = True,
        min_match: int | None = None,
    ) -> list[tuple[int, float]]:
        """Block join, child->parent — Solr ``{!parent}`` / Lucene
        ToParentBlockJoinQuery: the PARENTS of children matching
        ``child_query``, scored by ``score_mode`` over each parent's
        matching-child scores (Lucene ScoreMode: ``max`` default,
        ``total`` = sum, ``avg``, ``min``, ``none`` = 1.0). Lucene
        identifies blocks positionally (children precede their parent
        in the segment); this engine is relational, so a child carries
        its parent's ``path`` in metadata ``of_field`` — the natural
        translation of ``_root_`` to a table-shaped corpus.

        Distributed shape: scored child match kernel (k=None) ⋈
        child-side EAV(of_field) -> ONE hash aggregate per parent key ->
        join doc_stats on path to resolve the parent doc -> TakeOrdered
        k. The match set and child-score frame never reach the driver."""
        self._check_access("extractor_search")
        _require_query(child_query)
        _require_k(k)
        _require_bool("conjunctive", conjunctive)
        if not isinstance(of_field, str) or not of_field.strip():
            raise ValidationError(
                f"of_field must be a non-empty string, got {of_field!r}"
            )
        if score_mode not in self._BLOCKJOIN_SCORE_MODES:
            raise ValidationError(
                f"score_mode must be one of {self._BLOCKJOIN_SCORE_MODES},"
                f" got {score_mode!r}"
            )
        mm = self._match_and_meta(child_query, conjunctive, min_match,
                                  scored=True)
        if mm is None:
            return []
        per_doc, dm = mm
        child_scores = per_doc.select("doc_id", "score").join(
            dm.where(F.col("field") == of_field)
            .select("doc_id", F.col("value").alias("_ppath")),
            "doc_id",
        )
        agg = {
            "max": F.max("score"),
            "total": F.sum("score"),
            "avg": F.avg("score"),
            "min": F.min("score"),
            "none": F.lit(1.0),
        }[score_mode]
        per_parent = child_scores.groupBy("_ppath").agg(
            agg.alias("score")
        )
        ds = self._read_or_none("doc_stats")
        if ds is None:
            return []
        k = min(k, int(self.corpus_stats()["n_docs"]))
        if k <= 0:
            return []
        rows = (
            per_parent.join(
                ds.select("doc_id", F.col("path").alias("_ppath")),
                "_ppath",
            )
            .select("doc_id", "score")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
            .collect()
        )
        return [(int(r["doc_id"]), float(r["score"])) for r in rows]

    def child_search(
        self,
        parent_query: str,
        of_field: str,
        k: int = 10,
        conjunctive: bool = True,
        min_match: int | None = None,
    ) -> list[tuple[int, float]]:
        """Block join, parent->child — Solr ``{!child}`` / Lucene
        ToChildBlockJoinQuery: the CHILDREN of parents matching
        ``parent_query``, each child scoring its parent's BM25 (Lucene
        propagates the parent score to every child). Same relational
        block encoding as :meth:`parent_search` (child metadata
        ``of_field`` = parent ``path``).

        Distributed shape: scored parent match kernel -> doc_stats path
        resolve -> ONE equi-join against the child-side EAV rows ->
        TakeOrdered k."""
        self._check_access("extractor_search")
        _require_query(parent_query)
        _require_k(k)
        _require_bool("conjunctive", conjunctive)
        if not isinstance(of_field, str) or not of_field.strip():
            raise ValidationError(
                f"of_field must be a non-empty string, got {of_field!r}"
            )
        mm = self._match_and_meta(parent_query, conjunctive, min_match,
                                  scored=True)
        if mm is None:
            return []
        per_doc, dm = mm
        ds = self._read_or_none("doc_stats")
        if ds is None:
            return []
        parents = per_doc.select("doc_id", "score").join(
            ds.select("doc_id", F.col("path").alias("_ppath")), "doc_id"
        ).select("_ppath", "score")
        k = min(k, int(self.corpus_stats()["n_docs"]))
        if k <= 0:
            return []
        rows = (
            dm.where(F.col("field") == of_field)
            .select("doc_id", F.col("value").alias("_ppath"))
            .join(parents, "_ppath")
            .select("doc_id", "score")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
            .collect()
        )
        return [(int(r["doc_id"]), float(r["score"])) for r in rows]

    _GRAPH_MAX_ROUNDS = 100

    def graph_frame(
        self,
        root_query: str,
        from_field: str,
        to_field: str = "path",
        max_depth: int = -1,
        return_root: bool = True,
        conjunctive: bool = True,
        min_match: int | None = None,
    ) -> DataFrame | None:
        """Graph traversal — Solr ``{!graph from=f to=t maxDepth=n
        returnRoot=bool}rootquery`` (Lucene GraphQuery; the same
        semantics as the ``nodes()`` graph streaming expression): start
        from the docs matching ``root_query`` and repeatedly follow
        edges doc A -> doc B where A's metadata ``from_field`` value
        equals B's node key (``to_field``: a metadata field, or the
        default ``"path"`` = the doc's path in doc_stats — Solr's
        ``to=id``). Returns the reachable set as a cluster-side
        ``doc_id`` DataFrame (``None`` when the root query analyzes to
        nothing or the index is empty) — GraphQuery is a constant-score
        filter, so there are no scores. ``max_depth=-1`` traverses to
        the fixpoint; ``max_depth=0`` is just the root set;
        ``return_root=False`` drops roots unless re-reached through an
        edge (Solr parity). Cycles terminate: the frontier is
        anti-joined against the visited set each round.

        Distributed shape: per-round frontier ⋈ EAV(from_field) ->
        values ⋈ node-key frame -> new docs, anti-join visited, union;
        per-round localCheckpoint truncates the iterative lineage (the
        connected-components pattern, dedup.py). The visited set stays
        cluster-side — at 100 TB a traversal can reach billions of
        docs, so downstream consumers join on this frame; the bounded
        list form is :meth:`graph_search`. Rounds = graph depth, and
        each round is two equi-joins + one anti-join."""
        self._check_access("extractor_search")
        _require_query(root_query)
        _require_bool("return_root", return_root)
        _require_bool("conjunctive", conjunctive)
        for nm, v in (("from_field", from_field), ("to_field", to_field)):
            if not isinstance(v, str) or not v.strip():
                raise ValidationError(
                    f"{nm} must be a non-empty string, got {v!r}"
                )
        if isinstance(max_depth, bool) or not isinstance(max_depth, int) \
                or max_depth < -1:
            raise ValidationError(
                f"max_depth must be -1 (unlimited) or >= 0,"
                f" got {max_depth!r}"
            )
        mm = self._match_and_meta(root_query, conjunctive, min_match)
        if mm is None:
            return None
        per_doc, dm = mm
        roots = per_doc.select("doc_id")
        if max_depth == 0:
            return roots if return_root else roots.limit(0)
        # multi-valued metadata was collapsed to ', '-joined scalars at
        # extract (tasks.py:89-95 parity) — split edge fields back so a
        # doc can carry several outgoing edges (Solr from is typically
        # multiValued); pinned: edge values must not contain ', '
        edges_from = dm.where(F.col("field") == from_field).select(
            "doc_id",
            F.explode(F.split(F.col("value"), ", ")).alias("value"),
        )
        if to_field == "path":
            ds = self._read_or_none("doc_stats")
            if ds is None:
                return None
            node_key = ds.select(
                F.col("path").alias("value"),
                F.col("doc_id").alias("_dst"),
            )
        else:
            node_key = dm.where(F.col("field") == to_field).select(
                F.explode(F.split(F.col("value"), ", ")).alias("value"),
                F.col("doc_id").alias("_dst"),
            )
        frontier = roots.localCheckpoint(eager=True)
        visited = frontier
        depth = 0
        limit = max_depth if max_depth != -1 else self._GRAPH_MAX_ROUNDS

        def _step(fr):
            return (
                fr.join(edges_from, "doc_id")
                .select("value")
                .distinct()
                .join(node_key, "value")
                .select(F.col("_dst").alias("doc_id"))
                .distinct()
            )

        while depth < limit:
            new = _step(frontier).join(
                visited, "doc_id", "left_anti"
            ).localCheckpoint(eager=True)
            if new.isEmpty():
                break
            visited = visited.union(new).localCheckpoint(eager=True)
            frontier = new
            depth += 1
        else:
            # rounds exhausted WITHOUT an empty frontier — but a graph
            # whose depth is exactly the cap has still converged: probe
            # one more step before declaring non-convergence
            if max_depth == -1 and not _step(frontier).join(
                visited, "doc_id", "left_anti"
            ).isEmpty():
                raise RuntimeError(
                    f"graph traversal did not converge within "
                    f"{self._GRAPH_MAX_ROUNDS} rounds"
                )
        out = visited
        if not return_root:
            # roots stay only if some edge re-reaches them
            reached = visited.join(roots, "doc_id", "left_anti")
            re_reached = (
                visited.join(edges_from, "doc_id")
                .select("value")
                .distinct()
                .join(node_key, "value")
                .select(F.col("_dst").alias("doc_id"))
                .distinct()
                .join(roots, "doc_id", "left_semi")
            )
            out = reached.union(re_reached).distinct()
        return out

    def graph_search(
        self,
        root_query: str,
        from_field: str,
        to_field: str = "path",
        max_depth: int = -1,
        return_root: bool = True,
        conjunctive: bool = True,
        min_match: int | None = None,
    ) -> list[int]:
        """Sorted doc-id list form of :meth:`graph_frame` — size-routed
        through FILTER_CLOSURE_MAX (VERDICT r4 #1): the collect is
        bounded to max+1 rows and a reachable set that exceeds the
        bound raises instead of materializing an unbounded list on the
        driver; big traversals compose on the frame form."""
        frame = self.graph_frame(
            root_query, from_field, to_field=to_field,
            max_depth=max_depth, return_root=return_root,
            conjunctive=conjunctive, min_match=min_match,
        )
        if frame is None:
            return []
        rows = frame.limit(self.FILTER_CLOSURE_MAX + 1).collect()
        if len(rows) > self.FILTER_CLOSURE_MAX:
            raise ValidationError(
                f"graph_search reachable set exceeds FILTER_CLOSURE_MAX "
                f"({self.FILTER_CLOSURE_MAX}) doc ids; use "
                f"graph_frame() and keep the set cluster-side"
            )
        return sorted(int(r["doc_id"]) for r in rows)

    def stream_expr(self, expr: str) -> DataFrame:
        """Solr streaming expressions (/stream) compiled to ONE lazy
        DataFrame plan — ``search``/``select``/``innerJoin``/
        ``leftOuterJoin``/``hashJoin``/``rollup``/``sort``/``top``/
        ``unique``/``merge``/``intersect``/``complement``/``having``/
        ``fetch`` (grammar, semantics, and pinned divergences in
        :mod:`ckanext_extractor_spark.operators.streamexpr`). Solr
        executes these as a pipelined tuple-stream graph across worker
        nodes; here the whole dataflow compiles to a Catalyst plan, so
        joins reorder, filters push down, rollups aggregate two-phase,
        and ``hashJoin`` broadcasts its hashed side — nothing runs until
        the caller acts on the returned DataFrame.

        ``search(col, q=, fl=, sort=, rows=)``: the collection name is
        accepted and ignored (this engine is the collection); ``q`` is
        the engine's query language (conjunctive analyzed terms);
        ``fl`` may name ``doc_id``, ``score``, ``path``, and metadata
        fields (raw collapsed values). ``fetch(col, s, fl=, on=)``
        left-joins stored fields onto a stream."""
        self._check_access("extractor_search")
        from ckanext_extractor_spark.operators.streamexpr import (
            Node,
            Num,
            Str,
            StreamExprError,
            compile_stream,
            parse_stream_expr,
        )

        try:
            ast = parse_stream_expr(expr)
        except StreamExprError as e:
            raise ValidationError(f"bad stream expression: {e}") from e

        def fields_frame(fields: list[str]) -> DataFrame | None:
            """doc_id + stored fields for every live doc (path from
            doc_stats, metadata pivot for the rest)."""
            ds = self._read_or_none("doc_stats")
            if ds is None:
                return None
            cols = [F.col("doc_id")]
            meta = [f_ for f_ in fields if f_ not in ("doc_id", "path")]
            if "path" in fields:
                cols.append(F.col("path"))
            out = ds.select(*cols)
            if meta:
                if "metadata" not in ds.columns:
                    for f_ in meta:
                        out = out.withColumn(
                            f_, F.lit(None).cast("string")
                        )
                else:
                    dm = ds.select(
                        "doc_id",
                        F.explode(F.col("metadata")).alias(
                            "field", "value"
                        ),
                    )
                    pivot = dm.where(F.col("field").isin(meta)).groupBy(
                        "doc_id"
                    ).agg(
                        *[
                            F.max(
                                F.when(
                                    F.col("field") == f_, F.col("value")
                                )
                            ).alias(f_)
                            for f_ in meta
                        ]
                    )
                    out = out.join(pivot, "doc_id", "left")
            return out.select(
                "doc_id", *[f_ for f_ in fields if f_ != "doc_id"]
            )

        def provider(node: Node) -> DataFrame:
            fl_raw = node.params.get("fl")
            if not isinstance(fl_raw, Str) or not fl_raw.value.strip():
                raise StreamExprError(f"{node.name}() needs fl=\"...\"")
            fl = [s.strip() for s in fl_raw.value.split(",") if s.strip()]
            if node.name == "_fetch":
                if "score" in fl:
                    raise StreamExprError(
                        "fetch(): score is not a stored field"
                    )
                frame = fields_frame(list(dict.fromkeys(["doc_id"] + fl)))
                if frame is None:
                    raise StreamExprError("fetch(): no index to fetch from")
                return frame
            if len(node.args) != 1 or not isinstance(node.args[0], Str):
                raise StreamExprError(
                    "search(collection, q=..., fl=...) needs a "
                    "collection name"
                )
            q = node.params.get("q")
            if not isinstance(q, Str) or not q.value.strip():
                raise StreamExprError("search() needs q=\"...\"")
            per_doc = self._match_docs(q.value, True, None, scored=True)
            stored = [f_ for f_ in fl if f_ not in ("doc_id", "score")]
            if per_doc is None:
                schema = ", ".join(
                    f"`{f_}` double" if f_ == "score" else (
                        f"`{f_}` long" if f_ == "doc_id"
                        else f"`{f_}` string"
                    )
                    for f_ in fl
                )
                return self.spark.createDataFrame([], schema)
            frame = per_doc.select("doc_id", "score")
            if stored:
                sf_frame = fields_frame(["doc_id"] + stored)
                if sf_frame is not None:
                    frame = frame.join(sf_frame, "doc_id", "left")
                else:
                    for f_ in stored:
                        frame = frame.withColumn(
                            f_, F.lit(None).cast("string")
                        )
            frame = frame.select(*fl)
            sort = node.params.get("sort")
            if sort is not None:
                from ckanext_extractor_spark.operators.streamexpr import (
                    _sort_cols,
                )

                if not isinstance(sort, Str):
                    raise StreamExprError("search(): bad sort=")
                frame = frame.orderBy(*_sort_cols(sort.value))
            rows = node.params.get("rows")
            if rows is not None:
                if not isinstance(rows, Num) or rows.value <= 0 or \
                        rows.value != int(rows.value):
                    raise StreamExprError(
                        "search(): rows= must be a positive integer"
                    )
                frame = frame.limit(int(rows.value))
            return frame

        try:
            return compile_stream(ast, provider)
        except StreamExprError as e:
            raise ValidationError(f"bad stream expression: {e}") from e

    def stream(self, expr: str, max_rows: int = 1000) -> list[dict]:
        """Collect a streaming expression's tuples (the /stream HTTP
        response analog) — ``max_rows`` bounds driver materialization;
        use :meth:`stream_expr` for the unbounded DataFrame."""
        _require_k(max_rows)
        df = self.stream_expr(expr)
        return [r.asDict() for r in df.limit(max_rows).collect()]

    def search_distributed(
        self,
        query: str,
        k: int = 10,
        conjunctive: bool = True,
        min_match: int | None = None,
        exclude: str | None = None,
        fq: dict[str, str] | None = None,
        after: tuple[float, int] | None = None,
    ) -> list[tuple[int, float]]:
        """Cluster-scale top-k BM25 straight over the encoded segments —
        the route for indexes whose query-term posting lists exceed
        driver memory: bucket-pruned segment scan -> per-partition decode
        + score kernel (mapInPandas) -> per-doc aggregate -> global
        TakeOrdered(k). Nothing but the k result rows ever reaches the
        driver.

        Full query-surface parity with :meth:`search` (VERDICT r3 #2):
        ``exclude`` (Lucene MUST_NOT) builds the excluded terms' match
        set with the same distributed kernel and anti-joins it;
        ``fq`` (Lucene FILTER) semi-joins the metadata match DataFrame.
        Both are score-neutral for surviving docs.

        idf uses segment ``n_postings`` metadata df (pre-merge docFreq,
        like Lucene) — on a tombstone-free index identical to the warm
        kernels' decode-exact df, so ranks match :meth:`search` exactly
        (pinned by test and oracle)."""
        self._check_access("extractor_search")
        _require_query(query)
        _require_k(k)
        _require_bool("conjunctive", conjunctive)
        after = _require_cursor(after)
        if exclude is not None:
            _require_query(exclude)
        if min_match is not None and conjunctive:
            raise ValidationError(
                "min_match applies to disjunctive queries; pass "
                "conjunctive=False"
            )
        terms = list(
            dict.fromkeys(
                analyze_query(query, config=query_config_for(self.analyzer))
            )
        )
        if not terms:
            return []
        seg = self._segments_union(terms)
        if seg is None:
            return []
        from ckanext_extractor_spark.operators.wand import (
            query_segments_distributed,
        )

        st = self.corpus_stats()
        # clamp: orderBy+limit compiles to TakeOrdered, whose per-partition
        # heap is k-sized — an "all matches" k must not allocate past the
        # corpus (same OOM class boosted_search hit at oracle bring-up)
        k = min(k, int(st["n_docs"]))
        dfm = self._df_for_terms(terms)
        n = float(st["n_docs"])
        terms_idf = {
            t: float(
                np.log(1.0 + (n - dfm.get(t, 0) + 0.5)
                       / (dfm.get(t, 0) + 0.5))
            )
            for t in terms
        }
        docs_bc = self._gen_docs_broadcast()
        exclude_df = None
        if exclude:
            ex_terms = list(
                dict.fromkeys(
                    analyze_query(
                        exclude, config=query_config_for(self.analyzer)
                    )
                )
            )
            ex_seg = self._segments_union(ex_terms) if ex_terms else None
            if ex_seg is not None:
                # the excluded terms' match set, built by the same
                # distributed kernel in its k=None disjunctive form
                # (scores unused — idf placeholder); stays cluster-side
                exclude_df = query_segments_distributed(
                    self.spark, ex_seg, docs_bc, {t: 1.0 for t in ex_terms},
                    st["avgdl"], k=None, conjunctive=False,
                ).select("doc_id")
        include_df = self._fq_match_df(fq)
        if fq is not None and include_df is None:
            return []
        rows = query_segments_distributed(
            self.spark, seg, docs_bc, terms_idf, st["avgdl"],
            k=k, conjunctive=conjunctive, n_query_terms=len(terms),
            min_match=min_match,
            include_df=include_df, exclude_df=exclude_df, after=after,
        ).collect()
        return [(int(r["doc_id"]), float(r["score"])) for r in rows]

    def search_after(
        self,
        query: str,
        k: int = 10,
        conjunctive: bool = True,
        min_match: int | None = None,
        after: tuple[float, int] | None = None,
        distributed: bool = False,
    ) -> list[tuple[int, float]]:
        """Cursor paging — Lucene ``IndexSearcher.searchAfter`` / Solr
        cursorMark: ``after=(doc_id, score)`` is the previous page's last
        hit EXACTLY as returned, and the next page contains the k docs
        STRICTLY after it in
        (score desc, doc_id asc) order. Page depth never changes the
        cost: page 1000 is one k-sized selection over the cursor-filtered
        candidates, where ``search(start=n)`` must materialize a start+k
        window (Solr's documented deep-paging cliff — cursorMark exists
        for exactly this). ``after=None`` is the first page (Solr's
        ``cursorMark=*``) and equals ``search(..., mode="exact")``.

        Driver path routes to the exact kernel: the cursor filter
        composes with exact scoring, while the pruned WAND/MaxScore
        kernels assume an unfiltered top-k (Lucene's searchAfter
        likewise re-collects, it does not resume a pruned scorer's
        state). ``distributed=True`` routes to the cluster-scale kernel
        with the cursor pushed below the TakeOrdered. Cursor comparisons
        use the exact returned float (Lucene FieldDoc fidelity)."""
        self._check_access("extractor_search")
        _require_query(query)
        _require_k(k)
        _require_bool("conjunctive", conjunctive)
        _require_bool("distributed", distributed)
        after_k = _require_cursor(after)
        if min_match is not None and conjunctive:
            raise ValidationError(
                "min_match applies to disjunctive queries; pass "
                "conjunctive=False"
            )
        if distributed:
            # pass the ORIGINAL (doc_id, score) hit — search_distributed
            # runs its own cursor validation/conversion
            return self.search_distributed(
                query, k=k, conjunctive=conjunctive, min_match=min_match,
                after=after,
            )
        from ckanext_extractor_spark.operators.wand import exact_topk

        terms = list(
            dict.fromkeys(
                analyze_query(query, config=query_config_for(self.analyzer))
            )
        )
        if not terms:
            return []
        st = self.corpus_stats()
        tls = self._term_postings(terms, st)
        tls = [tp for tp in tls if len(tp.doc_ids)]
        if conjunctive and len(tls) < len(terms):
            return []
        if not tls:
            return []
        return exact_topk(
            tls, k, st["avgdl"], conjunctive=conjunctive,
            min_match=min_match, after=after_k,
        )

    def search_elevated(
        self,
        query: str,
        elevate: list[int],
        k: int = 10,
        exclude_ids: list[int] | None = None,
        conjunctive: bool = True,
        min_match: int | None = None,
    ) -> list[tuple[int, float]]:
        """Query elevation — Solr QueryElevationComponent (elevate.xml):
        ``elevate`` is the editorially-pinned doc-id list for this query,
        returned FIRST and in the GIVEN order regardless of score (Solr
        keeps config order); the remainder of the page is the organic
        ranking (score desc, doc_id asc) minus the pinned and excluded
        ids. Pinned docs appear even when they don't match the query
        (QEC ORs the elevated ids into the query; forceElevation
        semantics) — a non-matching pinned doc reports score 0.0.
        ``exclude_ids`` is elevate.xml's ``exclude="true"`` list: those
        docs are removed from the organic ranking entirely. Pinned ids
        that don't exist or are deleted are skipped (Solr logs and skips
        unknown elevation ids). Returns [(doc_id, score)], len <= k.

        Distributed shape: one manifest probe bounded by len(elevate)
        validates liveness; the organic ranking is the scored k=None
        match kernel with the pinned/excluded ids filtered INSIDE the
        plan, one TakeOrdered k — the match set never reaches the
        driver."""
        self._check_access("extractor_search")
        _require_query(query)
        _require_k(k)
        _require_bool("conjunctive", conjunctive)
        elevate = _require_doc_ids(elevate)
        exclude_ids = (
            _require_doc_ids(exclude_ids) if exclude_ids else []
        )
        dropped = set(elevate) | set(exclude_ids)
        live: set[int] = set()
        if elevate:
            live = {
                int(r["doc_id"])
                for r in read_doc_manifest(self.spark, self.root)
                .where(
                    F.col("doc_id").isin(list(set(elevate)))
                    & (F.col("status") == "indexed")
                )
                .select("doc_id")
                .collect()
            }
        pinned: list[int] = []
        for d in elevate:
            if d in live and d not in pinned and d not in set(exclude_ids):
                pinned.append(d)
        pinned = pinned[:k]
        per_doc = self._match_docs(query, conjunctive, min_match,
                                   scored=True)
        scores: dict[int, float] = {}
        organic: list[tuple[int, float]] = []
        n_tail = k - len(pinned)
        if per_doc is not None:
            per_doc = per_doc.select("doc_id", "score")
            if pinned:
                rows = per_doc.where(
                    F.col("doc_id").isin(pinned)
                ).collect()
                scores = {int(r["doc_id"]): float(r["score"]) for r in rows}
            if n_tail > 0:
                tail = per_doc
                if dropped:
                    tail = tail.where(~F.col("doc_id").isin(list(dropped)))
                n_tail = min(n_tail, int(self.corpus_stats()["n_docs"]))
                organic = [
                    (int(r["doc_id"]), float(r["score"]))
                    for r in tail.orderBy(
                        F.desc("score"), F.asc("doc_id")
                    ).limit(n_tail).collect()
                ]
        return [(d, scores.get(d, 0.0)) for d in pinned] + organic

    def dismax_search(
        self,
        query: str,
        qf: dict[str, float],
        k: int = 10,
        tie: float = 0.0,
        min_match: int | None = None,
        pf: dict[str, float] | None = None,
        pf2: dict[str, float] | None = None,
        pf3: dict[str, float] | None = None,
        ps: int = 0,
        ps2: int | None = None,
        ps3: int | None = None,
    ) -> list[tuple[int, float]]:
        """Scored multi-field metadata search — Solr (e)dismax ``qf``
        per-field boosts with ``tie`` breaker (Lucene
        DisjunctionMaxQuery: per query term, max boosted per-field BM25
        plus tie * the rest; summed over terms). The reference's CKAN
        package_search runs exactly this parser shape over the dynamic
        metadata fields (plugin.py:40,140). ``min_match`` is edismax mm
        over the dismax clauses: keep docs matching at least that many
        distinct query terms in any field (filter, never a rescore).
        ``pf`` (edismax phrase fields): docs whose pf-field value
        contains the WHOLE query as an adjacent phrase earn an additive
        phrase-BM25 boost (DisjunctionMax over pf fields with the same
        tie) — the relevance feature Solr deployments reach for right
        after qf. ``pf2``/``pf3`` (edismax bigram/trigram phrase
        fields): every ADJACENT pair / triple of query tokens becomes
        its own SHOULD phrase clause over its field map — partial
        phrase matches earn boosts the all-or-nothing pf can't.
        ``ps``/``ps2``/``ps3`` (edismax phrase slop): slop on the
        pf / pf2 / pf3 clauses — ps2/ps3 default to ps when unset
        (Solr parity); tf is the pinned anchor-window sloppy count
        (fields.sloppy_phrase_tf_expr; ps=0 ≡ exact pf).
        Returns [(doc_id, score)], score desc, doc_id asc."""
        self._check_access("extractor_search")
        _require_query(query)
        _require_k(k)

        def _require_boost_map(name, m, allow_none):
            if m is None and allow_none:
                return
            if (
                not isinstance(m, dict)
                or not m
                or not all(
                    isinstance(f, str) and f.strip()
                    and isinstance(w, (int, float))
                    and not isinstance(w, bool) and w > 0
                    for f, w in m.items()
                )
            ):
                raise ValidationError(
                    f"{name} must be a non-empty "
                    f"{{field: positive boost}} dict, got {m!r}"
                )

        _require_boost_map("qf", qf, allow_none=False)
        _require_boost_map("pf", pf, allow_none=True)
        _require_boost_map("pf2", pf2, allow_none=True)
        _require_boost_map("pf3", pf3, allow_none=True)
        for name, v, allow_none in (
            ("ps", ps, False), ("ps2", ps2, True), ("ps3", ps3, True)
        ):
            if v is None and allow_none:
                continue
            if isinstance(v, bool) or not isinstance(v, int) or v < 0:
                raise ValidationError(
                    f"{name} must be a non-negative integer, got {v!r}"
                )
        if (
            isinstance(tie, bool)
            or not isinstance(tie, (int, float))
            or not 0.0 <= tie <= 1.0
        ):
            raise ValidationError(f"tie must be in [0, 1], got {tie!r}")
        if min_match is not None and (
            isinstance(min_match, bool)
            or not isinstance(min_match, int)
            or min_match < 1
        ):
            raise ValidationError(
                f"min_match must be a positive integer, got {min_match!r}"
            )
        if self.BODY_FIELD in qf:
            if pf or pf2 or pf3:
                raise ValidationError(
                    f"pf/pf2/pf3 do not compose with the "
                    f"{self.BODY_FIELD} body pseudo-field; use "
                    "phrase_search for body phrases (pinned)"
                )
            return self._dismax_with_body(query, qf, k, tie, min_match)
        from ckanext_extractor_spark.operators.fields import (
            dismax_search_fields,
        )

        fp = self._read_or_none("field_postings")
        if fp is None:
            return []
        values = None
        if pf or pf2 or pf3:
            ds = self._read_or_none("doc_stats")
            if ds is not None and "metadata" in ds.columns:
                values = ds.select(
                    "doc_id",
                    F.explode(F.col("metadata")).alias("field", "value"),
                )
        rows = dismax_search_fields(
            fp, query, qf, k=k, tie=tie, min_match=min_match,
            norms=self._read_or_none("field_norms"),
            pf=pf, values=values, pf2=pf2, pf3=pf3,
            ps=ps, ps2=ps2, ps3=ps3,
        ).collect()
        return [(int(r["doc_id"]), float(r["score"])) for r in rows]

    def _dismax_with_body(
        self,
        query: str,
        qf: dict[str, float],
        k: int,
        tie: float,
        min_match: int | None,
    ) -> list[tuple[int, float]]:
        """edismax qf INCLUDING the main content index (Solr's usual qf
        shape: the catch-all text field plus boosted metadata fields,
        reference schema.xml:161 + plugin.py:40,140). Clauses are the
        whitespace-split query words; each clause is analyzed PER FIELD
        (the body's analyzer for ``_text_``, the field chain for
        metadata — Lucene's edismax analyzes per field too) and scores
        DisjunctionMax across fields with ``tie``, summed over clauses.
        A clause whose tokens expand to several terms in a field
        contributes that field's BM25 sum (pinned simplification of
        Lucene's per-expansion subqueries; identical whenever a clause
        analyzes to one token, which is every simple-word query).

        Distributed shape: ONE segments scan builds the body's
        per-(doc, clause) frame (``scored_terms_distributed``, the q69
        kernel), one pushed field_postings scan builds the metadata
        frame, a union + two hash aggregates take the dismax and the
        doc sum — no driver materialization beyond k rows."""
        from ckanext_extractor_spark.operators.fields import (
            analyze_field_query,
            field_clause_frame,
        )
        from ckanext_extractor_spark.operators.wand import (
            scored_terms_distributed,
        )

        body_boost = float(qf[self.BODY_FIELD])
        fqf = {f: float(w) for f, w in qf.items() if f != self.BODY_FIELD}
        clauses = [c for c in query.split() if c.strip()]
        if not clauses:
            return []
        body_cfg = query_config_for(self.analyzer)
        body_map = {
            i: list(dict.fromkeys(analyze_query(c, config=body_cfg)))
            for i, c in enumerate(clauses)
        }
        field_map = {
            i: list(dict.fromkeys(analyze_field_query(c)))
            for i, c in enumerate(clauses)
        }
        frames = []
        body_terms = list(
            dict.fromkeys(t for ts in body_map.values() for t in ts)
        )
        if body_terms:
            seg = self._segments_union(body_terms)
            if seg is not None:
                st = self.corpus_stats()
                dfm = self._df_for_terms(body_terms)
                n = float(st["n_docs"])
                terms_idf = {
                    t: float(
                        np.log(
                            1.0 + (n - dfm.get(t, 0) + 0.5)
                            / (dfm.get(t, 0) + 0.5)
                        )
                    )
                    for t in body_terms
                }
                ts_df = scored_terms_distributed(
                    seg, self._gen_docs_broadcast(), terms_idf, st["avgdl"]
                )
                cmap = self.spark.createDataFrame(
                    [(t, ci) for ci, toks in body_map.items()
                     for t in toks],
                    "term string, clause int",
                )
                frames.append(
                    ts_df.join(F.broadcast(cmap), "term")
                    .groupBy("doc_id", "clause")
                    .agg(
                        (F.sum("term_score") * F.lit(body_boost))
                        .alias("s")
                    )
                    .select(
                        "doc_id", "clause",
                        F.lit(self.BODY_FIELD).alias("field"), "s",
                    )
                )
        if fqf:
            fp = self._read_or_none("field_postings")
            if fp is not None:
                frames.append(
                    field_clause_frame(
                        fp, field_map, fqf,
                        norms=self._read_or_none("field_norms"),
                    ).select("doc_id", "clause", "field", "s")
                )
        if not frames:
            return []
        allf = frames[0]
        for f in frames[1:]:
            allf = allf.unionByName(f)
        per_clause = allf.groupBy("doc_id", "clause").agg(
            (
                F.max("s")
                + F.lit(float(tie)) * (F.sum("s") - F.max("s"))
            ).alias("ds")
        )
        agg = per_clause.groupBy("doc_id").agg(
            F.sum("ds").alias("score"), F.count("*").alias("_m")
        )
        if min_match is not None:
            agg = agg.where(F.col("_m") >= int(min_match))
        k = min(k, int(self.corpus_stats()["n_docs"]))
        if k <= 0:
            return []
        rows = (
            agg.select("doc_id", "score")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
            .collect()
        )
        return [(int(r["doc_id"]), float(r["score"])) for r in rows]

    def _df_for_terms(self, terms: list[str]) -> dict[str, int]:
        """Per-term document frequency from segment-row ``n_postings``
        metadata — no posting-blob decode. Like Lucene's pre-merge
        ``docFreq``, tombstoned docs still count until compaction (MLT
        term selection tolerates that, exactly as Lucene MLT does).

        Warm path: the preloaded store's per-term sums. Cold path: small
        candidate sets (fuzzy/prefix expansions, MLT vocabularies up to
        the expansion cap) go through the bucket+term-PRUNED segments
        read — partition pruning plus an In-pushdown, touching only the
        candidate buckets; wider sets fall back to one column-pruned
        full metadata scan (term + n_postings only) joined to a
        broadcast of the candidates."""
        if not terms:
            return {}
        if self._store is not None:
            return self._store.df_of(terms)
        if len(terms) <= self.PREFIX_MAX_EXPANSIONS:
            local = self._local_segment_rows(
                list(terms), columns=["term", "n_postings"]
            )
            if local is not None:
                out: dict[str, int] = {}
                for r in local:
                    out[r["term"]] = out.get(r["term"], 0) + int(
                        r["n_postings"]
                    )
                return {t: out[t] for t in terms if t in out}
            seg = self._segments_union(list(terms))
            if seg is None:
                return {}
            pruned = seg.select("term", "n_postings")
        else:
            seg = self._segments_union()
            if seg is None:
                return {}
            cand = self.spark.createDataFrame(
                [(t,) for t in terms], "term string"
            )
            pruned = seg.select("term", "n_postings").join(
                F.broadcast(cand), "term"
            )
        rows = (
            pruned.groupBy("term")
            .agg(F.sum("n_postings").alias("df"))
            .collect()
        )
        return {r["term"]: int(r["df"]) for r in rows}

    def more_like_this(
        self,
        doc_id: int,
        k: int = 10,
        max_query_terms: int = 25,
        min_term_freq: int = 1,
        min_doc_freq: int = 2,
    ) -> list[tuple[int, float]]:
        """Find-similar — Lucene MoreLikeThis. The seed doc's stored
        fulltext is re-analyzed with the index chain (what MLT does for
        fields without term vectors), its terms ranked by
        ``tf * (1 + ln(N / (df + 1)))`` (ClassicSimilarity idf, ties
        term-asc), the top ``max_query_terms`` survivors (``tf >=
        min_term_freq``, ``df >= min_doc_freq``) run as a disjunctive
        BM25 query, and the seed itself is dropped from the hits.
        Requires ``store_content=True``. Returns [(doc_id, score)].

        df comes from segment metadata (:meth:`_df_for_terms`) — one
        column-pruned scan, no blob decode; the retrieval tail is the
        same auto-routed exact/MaxScore kernel as :meth:`search`."""
        self._check_access("extractor_search")
        if isinstance(doc_id, bool) or not isinstance(doc_id, int):
            raise ValidationError(f"doc_id must be an integer, got {doc_id!r}")
        _require_k(k)
        for name, v in (("max_query_terms", max_query_terms),
                        ("min_term_freq", min_term_freq),
                        ("min_doc_freq", min_doc_freq)):
            if isinstance(v, bool) or not isinstance(v, int) or v < 1:
                raise ValidationError(
                    f"{name} must be a positive integer, got {v!r}"
                )
        scored = self._mlt_terms(doc_id, min_term_freq, min_doc_freq)
        if not scored:
            return []
        sel = [t for _, t in scored[:max_query_terms]]
        st = self.corpus_stats()
        from ckanext_extractor_spark.operators.wand import (
            exact_topk,
            maxscore_topk,
        )

        tls = [
            tp for tp in self._term_postings(sel, st) if len(tp.doc_ids)
        ]
        if not tls:
            return []
        fn = (
            maxscore_topk
            if sum(len(tp.doc_ids) for tp in tls) > self.MAXSCORE_AUTO_ROWS
            else exact_topk
        )
        hits = fn(tls, k + 1, st["avgdl"], conjunctive=False)  # room to
        return [(d, s) for d, s in hits if d != doc_id][:k]    # drop seed

    def _interesting_terms_for(
        self,
        doc_ids: list[int],
        min_term_freq: int,
        min_doc_freq: int,
        exclude_terms: "frozenset | set" = frozenset(),
        surface: str = "more_like_this",
    ) -> list[tuple[float, str]]:
        """MoreLikeThis term selection over one or more docs: the
        stored fulltexts re-analyzed with the index chain (ONE
        doc-store fetch), per-term tf summed across the set, candidates
        with ``tf >= min_term_freq`` / ``df >= min_doc_freq`` /
        not in ``exclude_terms`` ranked by
        ``tf * (1 + ln(N / (df + 1)))`` (ClassicSimilarity idf, ties
        term-asc). The single shared selection kernel behind
        :meth:`more_like_this`, :meth:`interesting_terms`, and
        :meth:`prf_search` — one place for the formula, df source, and
        tie-break (r5 review #4)."""
        if not self.store_content:
            raise ValidationError(
                f"{surface} requires store_content=True (the docs' "
                "fulltext is re-analyzed, as Lucene MLT does for "
                "fields without term vectors)"
            )
        rows = self._doc_store_rows(doc_ids)
        if not rows:
            return []
        import math

        import pandas as pd

        from ckanext_extractor_spark.analysis.tokenizer import analyze_batch

        ids = [int(r["doc_id"]) for r in rows] if len(rows) > 1 else None
        langs = None
        ds = self._read_or_none("doc_stats")
        if ds is not None and "lang" in ds.columns:
            if ids is None:
                lrows = ds.where(
                    F.col("doc_id") == doc_ids[0]
                ).select("lang").collect()
                if lrows:
                    langs = pd.Series([lrows[0]["lang"]])
            else:
                lmap = {
                    int(r["doc_id"]): r["lang"]
                    for r in ds.where(F.col("doc_id").isin(ids))
                    .select("doc_id", "lang").collect()
                }
                langs = pd.Series([lmap.get(i) for i in ids])
        toks = analyze_batch(
            pd.Series([r["content"] for r in rows]), langs, self.analyzer
        )
        if toks.empty:
            return []
        vc = toks["term"].value_counts()
        cand = [
            str(t) for t, c in vc.items()
            if int(c) >= min_term_freq and str(t) not in exclude_terms
        ]
        if not cand:
            return []
        dfm = self._df_for_terms(cand)
        n = float(self.corpus_stats()["n_docs"])
        scored = []
        for t in cand:
            d = dfm.get(t, 0)
            if d < min_doc_freq:
                continue
            scored.append((float(vc[t]) * (1.0 + math.log(n / (d + 1.0))), t))
        scored.sort(key=lambda x: (-x[0], x[1]))
        return scored

    def _mlt_terms(
        self,
        doc_id: int,
        min_term_freq: int,
        min_doc_freq: int,
    ) -> list[tuple[float, str]]:
        """Single-doc wrapper of :meth:`_interesting_terms_for`."""
        return self._interesting_terms_for(
            [doc_id], min_term_freq, min_doc_freq
        )

    def interesting_terms(
        self,
        doc_id: int,
        max_query_terms: int = 25,
        min_term_freq: int = 1,
        min_doc_freq: int = 2,
    ) -> list[tuple[str, float]]:
        """Solr ``mlt.interestingTerms=details``: the terms
        :meth:`more_like_this` would query with, rank order, each with
        its MLT selection score as the boost (Solr reports the raw
        interestingness as the term boost when ``mlt.boost=true``).
        Returns ``[(term, boost), ...]`` — the exact ``max_query_terms``
        prefix of the MLT ranking, so
        ``[t for t, _ in interesting_terms(d)]`` IS the disjunctive
        query term set of ``more_like_this(d)``."""
        self._check_access("extractor_search")
        if isinstance(doc_id, bool) or not isinstance(doc_id, int):
            raise ValidationError(f"doc_id must be an integer, got {doc_id!r}")
        for name, v in (("max_query_terms", max_query_terms),
                        ("min_term_freq", min_term_freq),
                        ("min_doc_freq", min_doc_freq)):
            if isinstance(v, bool) or not isinstance(v, int) or v < 1:
                raise ValidationError(
                    f"{name} must be a positive integer, got {v!r}"
                )
        scored = self._mlt_terms(doc_id, min_term_freq, min_doc_freq)
        return [(t, s) for s, t in scored[:max_query_terms]]

    def _prf_terms(
        self,
        feedback_ids: list[int],
        exclude_terms: set,
        fb_terms: int,
        min_doc_freq: int,
    ) -> list[tuple[str, float]]:
        """Expansion-term selection for :meth:`prf_search`: the shared
        MLT interestingness kernel over the feedback set with the
        original query terms excluded; top ``fb_terms`` as
        [(term, score)]."""
        scored = self._interesting_terms_for(
            feedback_ids, 1, min_doc_freq,
            exclude_terms=exclude_terms, surface="prf_search",
        )
        return [(t, s) for s, t in scored[:fb_terms]]

    def prf_search(
        self,
        query: str,
        k: int = 10,
        fb_docs: int = 5,
        fb_terms: int = 10,
        expand_boost: float = 0.5,
        min_doc_freq: int = 2,
    ) -> list[tuple[int, float]]:
        """Pseudo-relevance feedback (Rocchio-style blind feedback —
        the classic automatic query expansion): run the disjunctive
        BM25 query, treat the top ``fb_docs`` hits as relevant, mine
        their most interesting terms (MLT selection score, original
        query terms excluded), and re-score with the expanded query

            score(d) = BM25(d, query) + expand_boost * BM25(d, expansion)

        i.e. every expansion term enters the disjunction with its idf
        scaled by ``expand_boost`` (the Rocchio beta; implemented with
        the same ``boost_postings`` rewrite the ``term^boost`` surface
        uses, so scores stay kernel-exact). Docs matching ONLY
        expansion terms are admitted — the expanded query IS the query,
        per Rocchio. Requires ``store_content=True``. Returns
        [(doc_id, score)] ranked (score desc, doc_id asc).

        The retrieval tail auto-routes exact/MaxScore like
        :meth:`search`; nothing materializes beyond top-k."""
        from ckanext_extractor_spark.operators.wand import (
            boost_postings,
            exact_topk,
            maxscore_topk,
        )

        self._check_access("extractor_search")
        _require_query(query)
        _require_k(k)
        for name, v in (("fb_docs", fb_docs), ("fb_terms", fb_terms),
                        ("min_doc_freq", min_doc_freq)):
            if isinstance(v, bool) or not isinstance(v, int) or v < 1:
                raise ValidationError(
                    f"{name} must be a positive integer, got {v!r}"
                )
        if not isinstance(expand_boost, (int, float)) \
                or isinstance(expand_boost, bool) or expand_boost < 0:
            raise ValidationError(
                f"expand_boost must be a non-negative number, got "
                f"{expand_boost!r}"
            )
        qterms = list(dict.fromkeys(analyze_query(
            query, config=query_config_for(self.analyzer)
        )))
        if not qterms:
            return []
        initial = self.search(query, k=fb_docs, conjunctive=False)
        if not initial:
            return []
        expansion = self._prf_terms(
            [d for d, _ in initial], set(qterms), fb_terms, min_doc_freq
        )
        st = self.corpus_stats()
        tls = [
            tp for tp in self._term_postings(qterms, st)
            if len(tp.doc_ids)
        ]
        if expansion and expand_boost > 0:
            tls += [
                boost_postings(tp, float(expand_boost))
                for tp in self._term_postings(
                    [t for t, _ in expansion], st
                )
                if len(tp.doc_ids)
            ]
        if not tls:
            return []
        fn = (
            maxscore_topk
            if sum(len(tp.doc_ids) for tp in tls) > self.MAXSCORE_AUTO_ROWS
            else exact_topk
        )
        return fn(tls, k, st["avgdl"], conjunctive=False)

    def hybrid_search(
        self,
        query: str,
        dense_hits: list,
        k: int = 10,
        rrf_k: int = 60,
        lexical_k: int = 100,
        lexical_weight: float = 1.0,
        dense_weight: float = 1.0,
    ) -> list[tuple[int, float]]:
        """Hybrid retrieval at the engine surface: fuse this index's
        disjunctive BM25 top-``lexical_k`` with a caller-provided dense
        (ANN) result list via reciprocal-rank fusion —

            rrf(d) = w_lex/(rrf_k + rank_lex(d)) + w_dense/(rrf_k + rank_dense(d))

        (Cormack SIGIR'09; rrf_k=60, the Elasticsearch default; a doc
        missing from one list contributes nothing for it). Both lists
        rank by (ROUND(score, 6) DESC, doc_id ASC) — the repo's pinned
        tie-break — so fusion is deterministic. ``dense_hits`` is
        [(doc_id, score)] from any vector system (e.g.
        ``functions.similarity.ivf_topk`` collected, or an external
        ANN service); the DataFrame-scale twin is
        ``functions.hybrid.hybrid_topk``. Returns [(doc_id,
        rrf_score)] rounded to 6, ranked (rrf desc, doc_id asc)."""
        self._check_access("extractor_search")
        _require_query(query)
        _require_k(k)
        _require_k(lexical_k)
        if isinstance(rrf_k, bool) or not isinstance(rrf_k, int) \
                or rrf_k < 1:
            raise ValidationError(
                f"rrf_k must be a positive integer, got {rrf_k!r}"
            )
        if not isinstance(dense_hits, list) or any(
            not isinstance(h, (tuple, list)) or len(h) != 2
            for h in dense_hits
        ):
            raise ValidationError(
                "dense_hits must be a list of (doc_id, score) pairs"
            )
        try:
            dense = [(int(d), float(s)) for d, s in dense_hits]
            weights = (float(lexical_weight), float(dense_weight))
        except (TypeError, ValueError) as e:
            raise ValidationError(
                f"dense_hits scores and weights must be numeric: {e}"
            ) from None
        # an external ANN list may carry duplicate ids (sharded /
        # multi-probe merges); keep each doc's BEST entry so one doc
        # can't stack multiple rank contributions (r5 review #5)
        best: dict[int, float] = {}
        for d, s in dense:
            if d not in best or s > best[d]:
                best[d] = s
        dense = list(best.items())
        lex = self.search(query, k=lexical_k, conjunctive=False)
        fused: dict[int, float] = {}
        for w, hits in ((weights[0], lex), (weights[1], dense)):
            ranked = sorted(
                ((int(d), float(s)) for d, s in hits),
                key=lambda x: (-round(x[1], 6), x[0]),
            )
            for rank, (d, _) in enumerate(ranked, start=1):
                fused[d] = fused.get(d, 0.0) + w / (rrf_k + rank)
        out = sorted(
            ((d, round(s, 6)) for d, s in fused.items()),
            key=lambda x: (-x[1], x[0]),
        )
        return out[:k]

    def _fq_match_df(self, fq: dict[str, str] | None) -> DataFrame | None:
        """doc_id DataFrame matching ALL fq clauses (Solr filter-query
        semantics: each ``{field: value_query}`` is an unscored AND over
        the field's analyzed tokens; multiple fields intersect). None
        when no fq was given OR the index has no metadata sidecar (the
        caller treats the latter as an empty match). The per-field
        matches are aggregates over the pushed-filter field_postings
        scan; the intersection is doc_id equi-joins (AQE broadcasts the
        small side) — nothing here materializes on the driver."""
        if not fq:
            return None
        from ckanext_extractor_spark.operators.fields import search_field

        fp = self._read_or_none("field_postings")
        if fp is None:
            return None
        out: DataFrame | None = None
        for field, q in sorted(fq.items()):
            rng = _parse_fq_range(q)
            if rng is not None:
                m = self._fq_range_df(field, *rng)
                if m is None:
                    return fp.select("doc_id").limit(0)
            else:
                m = search_field(fp, field, q).select("doc_id")
            out = m if out is None else out.join(m, "doc_id")
        return out

    def _fq_range_df(self, field: str, lo, hi, lo_inc: bool,
                     hi_inc: bool) -> DataFrame | None:
        """Docs whose RAW metadata value for ``field`` falls in the range
        (Solr ``fq=field:[a TO b]`` — the reference's dynamic extractor
        fields are Solr strings, schema.xml:161, so comparison is
        lexicographic on the collapsed value, not on analyzed tokens).
        ``*`` bounds are open; ``{`` / ``}`` exclusive. One pushed-filter
        EAV scan; None when the index has no metadata sidecar."""
        ds = self._read_or_none("doc_stats")
        if ds is None or "metadata" not in ds.columns:
            return None
        dm = ds.select(
            "doc_id", F.explode(F.col("metadata")).alias("f", "v")
        ).where(F.col("f") == field)
        if lo is not None:
            dm = dm.where(
                F.col("v") >= lo if lo_inc else F.col("v") > lo
            )
        if hi is not None:
            dm = dm.where(
                F.col("v") <= hi if hi_inc else F.col("v") < hi
            )
        return dm.select("doc_id").distinct()

    PREFIX_MAX_EXPANSIONS = 1024  # Lucene maxClauseCount parity

    def _normalize_prefix(self, prefix) -> str:
        """Lowercase + single [a-z0-9] run — wildcard terms bypass the
        full analyzer (Lucene parity: multi-term queries are not
        analyzed, only case-normalized)."""
        if not isinstance(prefix, str) or not prefix.strip():
            raise ValidationError("prefix must be a non-empty string")
        import re

        runs = re.findall(r"[a-z0-9]+", prefix.lower())
        if len(runs) != 1:
            raise ValidationError(
                f"prefix must normalize to one token, got {prefix!r}"
            )
        return runs[0]

    def expand_prefix(
        self, prefix: str, max_expansions: int | None = None
    ) -> list[str]:
        """Index terms starting with ``prefix``, sorted (the Lucene
        terms-dict seek behind PrefixQuery). Warm mode is a binary-search
        range of the preloaded store's sorted terms; cold mode is a
        distinct over the segment term column with the StringStartsWith
        filter pushed to parquet
        (row-group min/max on term prune most of the dictionary).
        Raises when the expansion exceeds ``max_expansions`` (Lucene
        maxClauseCount analog) — a too-generic prefix should fail loudly,
        not scan the corpus."""
        self._check_access("extractor_search")
        p = self._normalize_prefix(prefix)
        cap = max_expansions or self.PREFIX_MAX_EXPANSIONS
        if self._store is not None:
            lo, hi = self._store.prefix_range(p)
            terms = self._store.terms[lo:hi]
        else:
            seg = self._segments_union()
            if seg is None:
                return []
            rows = (
                seg.select("term")
                .where(F.col("term").startswith(p))
                .distinct()
                .orderBy("term")
                .limit(cap + 1)
                .collect()
            )
            terms = [r["term"] for r in rows]
        if len(terms) > cap:
            raise ValidationError(
                f"prefix {prefix!r} expands to more than {cap} terms; "
                "narrow it or raise max_expansions"
            )
        return terms

    def prefix_search(
        self, prefix: str, k: int = 10,
        max_expansions: int | None = None,
    ) -> list[tuple[int, float]]:
        """Top-k for a prefix query ``prefix*`` (Solr/Lucene PrefixQuery,
        the dynamic-field wildcard's term-level sibling).

        Rewrite: scoring-boolean OR over the expanded terms with each
        term's own idf (Lucene SCORING_BOOLEAN_REWRITE; deliberately NOT
        the default CONSTANT_SCORE rewrite — scored results are more
        useful for ranking and the semantics stay SQL-expressible:
        ``term LIKE 'p%'`` inside the same BM25 formulation). A doc
        matching several expanded terms sums their contributions, exactly
        like a disjunctive multi-term query."""
        self._check_access("extractor_search")
        _require_k(k)
        terms = self.expand_prefix(prefix, max_expansions)
        return self._expanded_topk(terms, k)

    def expand_phonetic(
        self, term: str, max_expansions: int | None = None
    ) -> list[str]:
        """Index terms whose classic-Soundex code equals ``term``'s —
        Solr ``PhoneticFilterFactory`` (encoder=Soundex) reimagined as a
        query-time MultiTermQuery rewrite (Lucene encodes phonetic
        tokens at index time; this engine keeps the index surface
        unchanged and expands against the dictionary like
        prefix/wildcard/fuzzy do). Soundex preserves the first letter,
        so the scan is a StringStartsWith-PRUNED dictionary slice
        (row-group min/max on term), with the soundex filter applied
        CLUSTER-side as a pure Catalyst expression (soundex_col — no
        Python UDF, no BatchEvalPython node; optimization r6) over the
        single-initial distinct-terms slice — a dictionary-sized op,
        never a postings scan — and only the matching terms collected,
        capped at maxClauseCount. Warm mode filters the preloaded
        store's terms with the same initial (a binary-search range)."""
        self._check_access("extractor_search")
        from ckanext_extractor_spark.analysis.phonetic import soundex

        if not isinstance(term, str) or not term.strip():
            raise ValidationError("term must be a non-empty string")
        t = term.strip().lower()
        if " " in t:
            raise ValidationError(
                f"phonetic expansion takes a single term, got {term!r}"
            )
        code = soundex(t)
        if not code:
            raise ValidationError(
                f"term {term!r} has no letters to encode"
            )
        cap = max_expansions or self.PREFIX_MAX_EXPANSIONS
        first = t[0]
        if self._store is not None:
            lo, hi = self._store.prefix_range(first)
            terms = [
                x for x in self._store.terms[lo:hi] if soundex(x) == code
            ]
        else:
            seg = self._segments_union()
            if seg is None:
                return []
            from ckanext_extractor_spark.analysis.phonetic import (
                soundex_col,
            )

            rows = (
                seg.select("term")
                .where(F.col("term").startswith(first))
                .distinct()
                .where(soundex_col(F.col("term")) == code)
                .orderBy("term")
                .limit(cap + 1)
                .collect()
            )
            terms = [r["term"] for r in rows]
        if len(terms) > cap:
            raise ValidationError(
                f"phonetic code {code} matches more than {cap} terms; "
                "raise max_expansions"
            )
        return terms

    def phonetic_search(
        self, term: str, k: int = 10,
        max_expansions: int | None = None,
    ) -> list[tuple[int, float]]:
        """Top-k for a phonetic match query — every doc containing a
        term that SOUNDS like ``term`` (classic Soundex), scored as a
        scoring-boolean OR with per-expansion idf (the prefix/wildcard
        rewrite tail; Lucene phonetic fields score the encoded token the
        same way)."""
        self._check_access("extractor_search")
        _require_k(k)
        terms = self.expand_phonetic(term, max_expansions)
        return self._expanded_topk(terms, k)

    def search_expr(self, query: str, k: int = 10) -> list[tuple[int, float]]:
        """Top-k for a boolean query-language expression — nested
        AND/OR/NOT with parentheses, ``-term`` negation, ``term^2``
        boosts, and quoted phrases ``"a b"~slop^boost`` (the Lucene
        classic-QueryParser subset Solr's default ``lucene`` defType
        exposes; the reference's index answers exactly this syntax
        through package_search q). A phrase clause matches the ordered
        per-gap proximity semantics of phrase_search and scores the
        conjunctive BM25 sum of its distinct terms on matching docs
        (engine-pinned phrase scoring). A ``field:value`` clause targets
        one extracted-metadata field (the reference's dynamic Solr
        fields, schema.xml:161): all field-analyzed value tokens must
        occur in that doc's field (search_field semantics) and the
        clause scores per-field BM25 (the dismax statistics) times its
        boost; unknown fields match nothing (Lucene parity) and fielded
        phrases are rejected (field postings carry no positions,
        pinned). Multi-term leaves follow the Lucene rewrites: ``te*t``
        / ``te?t`` (WildcardQuery) and ``term~n`` (FuzzyQuery, ``~`` =
        edits 2) expand against the terms dictionary into a
        scoring-boolean OR (per-expansion idf, maxClauseCount-capped),
        and ``field:[a TO b]`` / ``{a TO b}`` (TermRangeQuery,
        lexicographic on the raw metadata value, ``*`` open bounds)
        matches constant-score ``1.0 * boost``. Scoring is BooleanQuery
        semantics: a doc's score sums the BM25 contributions of the
        scoring clauses it matches (an OR adds only the matching side;
        NOT filters, never scores), each times its boost. Terms run
        through the query analyzer; a multi-token surface term becomes a
        conjunctive group. Evaluation is one vectorized mask-algebra pass
        over the union of the positive leaves' postings
        (operators/boolquery.py) — no per-doc Python."""
        self._check_access("extractor_search")
        _require_query(query)
        _require_k(k)
        from ckanext_extractor_spark.operators.boolquery import (
            all_tokens,
            eval_topk,
        )
        from ckanext_extractor_spark.operators.fields import (
            field_term_scores,
        )

        ast = self._parse_expr(query)
        st = self.corpus_stats()
        tls = self._term_postings(all_tokens(ast), st)
        pmap = {tp.term: tp for tp in tls}

        def phrase_cb(tokens: list[str], slop: int):
            """Sorted doc ids containing the analyzed phrase — candidate
            intersection over the (already fetched) posting lists, then
            the same per-gap positions verify the phrase path uses."""
            from ckanext_extractor_spark.operators.phrase import (
                phrase_filter_docs,
            )

            uniq = list(dict.fromkeys(tokens))
            if any(t not in pmap for t in uniq):
                return np.empty(0, dtype=np.int64)
            cand = pmap[uniq[0]].doc_ids
            for t in uniq[1:]:
                cand = np.intersect1d(
                    cand, pmap[t].doc_ids, assume_unique=True
                )
            if not cand.size:
                return cand.astype(np.int64)
            rows_by_term = {t: self._segment_rows(t) for t in uniq}
            keep = phrase_filter_docs(
                [int(d) for d in cand], rows_by_term, tokens, slop=slop,
            )
            return np.array(sorted(keep), dtype=np.int64)

        def field_cb(field: str, tokens: list[str]):
            """(sorted doc ids, per-field BM25 scores) for one fielded
            clause. The match set materializes driver-side like the main
            leaves' posting lists do — search_expr IS the driver-kernel
            path (boolean retrieval at cluster scale composes
            search_distributed + fq); an unknown field or a pre-fields
            store matches nothing (Lucene: no postings, no matches)."""
            fp = self._read_or_none("field_postings")
            if fp is None:
                return (
                    np.empty(0, dtype=np.int64),
                    np.empty(0, dtype=np.float64),
                )
            rows = field_term_scores(
                fp, field, tokens,
                norms=self._read_or_none("field_norms"),
            ).collect()
            rows.sort(key=lambda r: int(r["doc_id"]))
            return (
                np.array([int(r["doc_id"]) for r in rows], dtype=np.int64),
                np.array(
                    [float(r["score"]) for r in rows], dtype=np.float64
                ),
            )

        def range_cb(field, lo, hi, lo_inc, hi_inc):
            """Sorted doc ids whose RAW metadata value falls in the range
            (the fq-range EAV scan; doc_stats is delete-purged, so the
            match set is tombstone-clean). Materializes driver-side like
            the other leaves — search_expr IS the driver-kernel path."""
            df = self._fq_range_df(field, lo, hi, lo_inc, hi_inc)
            if df is None:
                return np.empty(0, dtype=np.int64)
            return np.array(
                sorted(int(r["doc_id"]) for r in df.collect()),
                dtype=np.int64,
            )

        return eval_topk(
            ast, pmap, k, st["avgdl"], phrase_cb=phrase_cb,
            field_cb=field_cb, range_cb=range_cb,
        )

    def _parse_expr(self, query: str):
        """Parse + Lucene-rewrite a boolean expression (shared by the
        driver-kernel and distributed evaluators): classic-QueryParser
        grammar, field-analyzer resolution for ``field:value``, the
        MultiTermQuery rewrite for wildcard/fuzzy leaves, positions
        gate for phrase leaves."""
        from ckanext_extractor_spark.operators.boolquery import (
            QuerySyntaxError,
            has_multiterm,
            has_phrase,
            parse_query,
            rewrite_expansions,
        )
        from ckanext_extractor_spark.operators.fields import (
            analyze_field_query,
        )

        def analyze(t: str) -> list[str]:
            return analyze_query(t, config=query_config_for(self.analyzer))

        try:
            ast = parse_query(query, analyze, analyze_field_query)
        except QuerySyntaxError as e:
            raise ValidationError(str(e)) from e
        if has_multiterm(ast):
            # Lucene MultiTermQuery rewrite: wildcard/fuzzy leaves become
            # scoring-boolean Expanded leaves over concrete index terms
            # (one terms-dict expansion per leaf, maxClauseCount-capped)
            ast = rewrite_expansions(
                ast,
                lambda p: self.expand_wildcard(p),
                lambda t, n: self.expand_fuzzy(t, n),
            )
        if has_phrase(ast) and not self.with_positions:
            raise ValidationError(
                "phrase clauses need an index built with "
                "with_positions=True"
            )
        return ast

    def search_expr_distributed(
        self, query: str, k: int = 10
    ) -> list[tuple[int, float]]:
        """Cluster-scale boolean query language — the same grammar and
        BooleanQuery scoring as :meth:`search_expr`, with NOTHING but the
        k result rows reaching the driver (full distributed-path parity:
        after exclude/fq/min_match in r3, the expression surface was the
        last warm/slow-only feature).

        Plan shape (one segments scan regardless of clause count):

        1. one bucket-pruned scan + decode kernel emits per-(doc, term)
           BM25 rows for EVERY token the AST mentions
           (``wand.scored_terms_distributed`` — the same decode plan
           and live masks as :meth:`search_distributed`);
        2. one ``groupBy(doc_id).pivot(term)`` hash aggregate turns them
           into per-token nullable score columns;
        3. phrase leaves join their (doc_id, score) match DataFrames
           from the distributed phrase pipeline
           (``phrase.phrase_matched_df`` — the r3 vectorized verify),
           fielded leaves per-field BM25 from ``field_term_scores``,
           range leaves the fq-range EAV scan: all full-outer joins on
           doc_id, so positive metadata-only leaves extend the universe
           exactly like the driver evaluator;
        4. the AST compiles to ONE Catalyst (match, score) expression
           (``boolquery.compile_columns`` — whole-stage codegen, CASE
           gates reproduce matched-clauses-only scoring);
        5. global TakeOrdered(score desc, doc_id asc) limit k.

        idf uses segment ``n_postings`` metadata df like
        :meth:`search_distributed` (pre-merge docFreq — identical to the
        driver kernels on a tombstone-free index, pinned by parity
        test and oracle q69)."""
        self._check_access("extractor_search")
        _require_query(query)
        _require_k(k)
        from ckanext_extractor_spark.operators.boolquery import (
            all_tokens,
            compile_columns,
            field_leaves,
            phrase_leaves,
            range_leaves,
        )
        from ckanext_extractor_spark.operators.fields import (
            field_term_scores,
        )
        from ckanext_extractor_spark.operators.phrase import (
            phrase_matched_df,
        )
        from ckanext_extractor_spark.operators.wand import (
            scored_terms_distributed,
        )

        ast = self._parse_expr(query)
        st = self.corpus_stats()
        k = min(k, int(st["n_docs"]))
        toks = all_tokens(ast)
        frames: list[DataFrame] = []
        tok_cols: set[str] = set()
        if toks:
            seg = self._segments_union(toks)
            if seg is not None:
                dfm = self._df_for_terms(toks)
                n = float(st["n_docs"])
                terms_idf = {
                    t: float(
                        np.log(1.0 + (n - dfm.get(t, 0) + 0.5)
                               / (dfm.get(t, 0) + 0.5))
                    )
                    for t in toks
                }
                scored = scored_terms_distributed(
                    seg, self._gen_docs_broadcast(), terms_idf,
                    float(st["avgdl"]),
                )
                # explicit pivot values: one shuffle, no discovery job;
                # analyzed tokens are [a-z0-9]+ so names cannot collide
                # with doc_id or the _-prefixed aux columns
                frames.append(
                    scored.groupBy("doc_id").pivot("term", toks)
                    .sum("term_score")
                )
                tok_cols.update(toks)
        null_col = F.lit(None).cast("double")
        ph_names: dict[tuple, str] = {}
        for i, key in enumerate(phrase_leaves(ast)):
            pdf = phrase_matched_df(self, list(key[0]), slop=key[1])
            if pdf is None:
                continue  # unindexed term: leaf matches nothing
            name = f"_ph{i}"
            ph_names[key] = name
            frames.append(pdf.select("doc_id", F.col("score").alias(name)))
        fd_names: dict[tuple, str] = {}
        fp = self._read_or_none("field_postings")
        for i, key in enumerate(field_leaves(ast)):
            if fp is None:
                continue  # pre-fields store: leaf matches nothing
            name = f"_fd{i}"
            fd_names[key] = name
            frames.append(
                field_term_scores(
                    fp, key[0], list(key[1]),
                    norms=self._read_or_none("field_norms"),
                ).select("doc_id", F.col("score").alias(name))
            )
        rg_names: dict[tuple, str] = {}
        for i, key in enumerate(range_leaves(ast)):
            rdf = self._fq_range_df(*key)
            if rdf is None:
                continue  # no metadata sidecar: leaf matches nothing
            name = f"_rg{i}"
            rg_names[key] = name
            frames.append(
                rdf.select("doc_id", F.lit(1.0).alias(name))
            )
        if not frames:
            return []
        base = frames[0]
        for f in frames[1:]:
            base = base.join(f, "doc_id", "full_outer")
        match, score = compile_columns(
            ast,
            tok_col=lambda t: F.col(t) if t in tok_cols else null_col,
            phrase_col=lambda key: (
                F.col(ph_names[key]) if key in ph_names else null_col
            ),
            field_col=lambda key: (
                F.col(fd_names[key]) if key in fd_names else null_col
            ),
            range_col=lambda key: (
                F.col(rg_names[key]) if key in rg_names else null_col
            ),
        )
        rows = (
            base.where(match)
            .select("doc_id", score.alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
            .collect()
        )
        return [(int(r["doc_id"]), float(r["score"])) for r in rows]

    def _expanded_topk(
        self, terms: list[str], k: int,
        boosts: "dict[str, float] | None" = None,
    ) -> list[tuple[int, float]]:
        """Scoring-boolean disjunctive top-k over an already-expanded
        term set (the shared tail of prefix/wildcard/fuzzy queries —
        Lucene SCORING_BOOLEAN_REWRITE). ``boosts`` maps expansion term
        -> weight multiplier (the blended-fuzzy rewrite's distance
        boost); missing terms weigh 1.0."""
        from ckanext_extractor_spark.operators.wand import (
            boost_postings,
            exact_topk,
        )

        if not terms:
            return []
        st = self.corpus_stats()
        tls = self._term_postings(terms, st)
        tls = [tp for tp in tls if len(tp.doc_ids)]
        if boosts:
            tls = [boost_postings(tp, boosts.get(tp.term, 1.0))
                   for tp in tls]
        if not tls:
            return []
        return exact_topk(tls, k, st["avgdl"], conjunctive=False)

    def expand_wildcard(
        self, pattern: str, max_expansions: int | None = None
    ) -> list[str]:
        """Index terms matching a ``*``/``?`` glob (Lucene WildcardQuery
        term expansion). Warm mode fnmatches the preloaded store's terms
        in the binary-search range of the leading literal run; cold mode scans distinct segment terms with the leading literal
        run pushed as a StringStartsWith parquet filter (the terms-dict
        seek Lucene gets from its FST — row-group min/max on term prune
        everything before the first wildcard). Caps like expand_prefix."""
        self._check_access("extractor_search")
        if not isinstance(pattern, str) or not pattern.strip():
            raise ValidationError("pattern must be a non-empty string")
        import fnmatch
        import re

        p = pattern.lower().strip()
        if not re.fullmatch(r"[a-z0-9*?]+", p):
            raise ValidationError(
                "pattern may contain only [a-z0-9], '*' and '?', got "
                f"{pattern!r}"
            )
        if not re.search(r"[a-z0-9]", p):
            raise ValidationError(
                f"pattern needs at least one literal character: {pattern!r}"
            )
        cap = max_expansions or self.PREFIX_MAX_EXPANSIONS
        lead = re.match(r"[a-z0-9]*", p).group(0)
        if self._store is not None:
            lo, hi = self._store.prefix_range(lead)
            terms = fnmatch.filter(self._store.terms[lo:hi], p)
        else:
            seg = self._segments_union()
            if seg is None:
                return []
            scan = seg.select("term")
            if lead:
                scan = scan.where(F.col("term").startswith(lead))
            like = p.replace("*", "%").replace("?", "_")
            rows = (
                scan.where(F.col("term").like(like))
                .distinct()
                .orderBy("term")
                .limit(cap + 1)
                .collect()
            )
            terms = [r["term"] for r in rows]
        if len(terms) > cap:
            raise ValidationError(
                f"pattern {pattern!r} expands to more than {cap} terms; "
                "narrow it or raise max_expansions"
            )
        return terms

    def wildcard_search(
        self, pattern: str, k: int = 10,
        max_expansions: int | None = None,
    ) -> list[tuple[int, float]]:
        """Top-k for a glob term query (Solr/Lucene WildcardQuery) —
        scoring-boolean OR over the expansion, per-term idf, same
        rewrite-and-score shape as prefix_search (a prefix query IS the
        ``p*`` special case)."""
        self._check_access("extractor_search")
        _require_k(k)
        return self._expanded_topk(self.expand_wildcard(
            pattern, max_expansions), k)

    FUZZY_MAX_EDITS = 2  # Lucene LevenshteinAutomata ceiling

    def expand_fuzzy(
        self, term: str, max_edits: int = 1,
        max_expansions: int | None = None,
    ) -> list[str]:
        """Index terms within ``max_edits`` Levenshtein distance of
        ``term`` (Lucene FuzzyQuery expansion; edit ceiling 2 matches
        LevenshteinAutomata). Warm mode runs a banded DP over the
        preloaded store's terms; cold mode scans distinct segment terms with a pushed
        length-window filter, then Spark's built-in thresholded
        levenshtein — the candidate set never leaves the cluster
        unfiltered."""
        self._check_access("extractor_search")
        cap = max_expansions or self.PREFIX_MAX_EXPANSIONS
        return self._expand_fuzzy_batch([term], max_edits, cap)[term]

    def _expand_fuzzy_batch(
        self, terms: list[str], max_edits: int, cap: int
    ) -> dict[str, list[str]]:
        """Fuzzy expansions for MANY terms in ONE dictionary scan —
        cold-mode spellcheck over a multi-term query must not fan out
        one distinct-terms Spark job per term (ADVICE r3). The scan's
        pushed filter is the union of the terms' length windows; each
        term contributes one thresholded-levenshtein flag column, so the
        candidate set still never leaves the cluster unfiltered. Warm
        mode stays a driver loop over the cached dictionary (no Spark
        job either way). Returns ``{input_term: sorted expansions}``;
        raises when any term exceeds ``cap`` expansions."""
        if not (
            isinstance(max_edits, int)
            and not isinstance(max_edits, bool)
            and 1 <= max_edits <= self.FUZZY_MAX_EDITS
        ):
            raise ValidationError(
                f"max_edits must be 1..{self.FUZZY_MAX_EDITS}, "
                f"got {max_edits!r}"
            )
        # one lowercase [a-z0-9] token each; duplicates share the work
        norm = {t: self._normalize_prefix(t) for t in terms}
        ps = list(dict.fromkeys(norm.values()))
        found: dict[str, list[str]] = {p: [] for p in ps}
        if not ps:
            return {}
        if self._store is not None:
            for p in ps:
                found[p] = [
                    t for t in self._store.terms
                    if _edit_distance_leq(p, t, max_edits)
                ]
        else:
            seg = self._segments_union()
            if seg is not None:
                import operator
                from functools import reduce

                win = reduce(operator.or_, (
                    F.length("term").between(
                        len(p) - max_edits, len(p) + max_edits
                    )
                    for p in ps
                ))
                flags = [
                    (
                        F.levenshtein(F.col("term"), F.lit(p), max_edits)
                        >= 0
                    ).alias(f"_m{i}")
                    for i, p in enumerate(ps)
                ]
                any_flag = reduce(
                    operator.or_,
                    (F.col(f"_m{i}") for i in range(len(ps))),
                )
                # rows > len(ps)*cap ⟹ some term is over cap (each row
                # matches >= 1 term), so the driver materialization is
                # bounded even before the per-term cap check below
                rows = (
                    seg.select("term")
                    .where(win)
                    .distinct()
                    .select("term", *flags)
                    .where(any_flag)
                    .orderBy("term")
                    .limit(len(ps) * cap + 1)
                    .collect()
                )
                if len(rows) > len(ps) * cap:
                    raise ValidationError(
                        f"fuzzy expansion of {terms!r}~{max_edits} exceeds "
                        f"{cap} terms; narrow it or raise max_expansions"
                    )
                for r in rows:
                    for i, p in enumerate(ps):
                        if r[f"_m{i}"]:
                            found[p].append(r["term"])
        for t, p in norm.items():
            if len(found[p]) > cap:
                raise ValidationError(
                    f"fuzzy {t!r}~{max_edits} expands to more than {cap} "
                    "terms; narrow it or raise max_expansions"
                )
        return {t: found[p] for t, p in norm.items()}

    def fuzzy_search(
        self, term: str, k: int = 10, max_edits: int = 1,
        max_expansions: int | None = None, blend: str = "idf",
    ) -> list[tuple[int, float]]:
        """Top-k for a fuzzy term query ``term~n`` (Solr/Lucene
        FuzzyQuery). Default rewrite (``blend="idf"``): scoring-boolean
        OR with each expansion's own idf — NOT Lucene's blend; per-term
        idf keeps the semantics SQL-expressible (levenshtein(term, q)
        <= n inside the same BM25 formulation) and the divergence is
        pinned here. ``blend="lucene"`` closes that divergence for
        ranking: each expansion's contribution is multiplied by
        FuzzyTermsEnum's distance boost ``1 - edit/min(|q|, |t|)``
        (:func:`fuzzy_blend_boost`), so an exact dictionary hit
        dominates its 1-edit neighbours the way Solr's ``term~n``
        ranks them — still SQL-expressible (the boost is a levenshtein
        expression), so the blended path is hash-gated too."""
        self._check_access("extractor_search")
        _require_k(k)
        if blend not in ("idf", "lucene"):
            raise ValidationError(
                f"blend must be 'idf' or 'lucene', got {blend!r}"
            )
        q = self._normalize_prefix(term)
        expansions = self.expand_fuzzy(term, max_edits, max_expansions)
        boosts = None
        if blend == "lucene":
            boosts = {
                t: fuzzy_blend_boost(q, t, max_edits) for t in expansions
            }
        return self._expanded_topk(expansions, k, boosts=boosts)

    def facets(
        self,
        query: str,
        fields: list[str],
        k_facet: int = 10,
        conjunctive: bool = True,
        min_match: int | None = None,
        prefix: str | None = None,
        mincount: int = 1,
        missing: bool = False,
        sort: str = "count",
    ) -> dict[str, list[tuple[str | None, int]]]:
        """Facet counts over the docs matching ``query`` (Solr faceting —
        the reference's CKAN search UI counts package_search facets over
        the same Solr index, plugin.py IPackageController).

        Returns {field: [(value, count), ...]} with each field's top
        ``k_facet`` values by (count desc, value asc) — facet.sort=count
        — or by value asc when ``sort="index"`` (Solr facet.sort=index).
        ``prefix`` keeps only values starting with it (facet.prefix,
        applied before ranking like Solr's dictionary walk), ``mincount``
        drops values below a count floor (facet.mincount), and
        ``missing=True`` appends one final ``(None, n)`` entry per field
        counting matching docs with NO value for that field
        (facet.missing — Solr renders it last regardless of sort; the
        prefix filter never affects it, Solr parity).

        Fully distributed plan, no driver materialization of the match
        set: bucket-pruned segment scan -> decode kernel -> per-doc match
        aggregate (same kernel as the distributed query path; scores
        unused, so idf is a placeholder) -> semi-join against doc_stats'
        metadata map exploded to EAV rows (the reference's
        ResourceMetadatum key/value rows, stored once — no second
        metadata table) -> one (field, value) count aggregate ->
        per-field window top-k. The shuffle is bounded by the query
        terms' df plus the matched docs' metadata rows — never the
        corpus. ``missing`` adds one docs-with-field aggregate (pre
        prefix filter) and one match-count job, both returning
        ≤ len(fields)+1 rows."""
        self._check_access("extractor_search")
        _require_query(query)
        _require_k(k_facet)
        _require_bool("conjunctive", conjunctive)
        _require_bool("missing", missing)
        if prefix is not None and (
            not isinstance(prefix, str) or not prefix
        ):
            raise ValidationError(
                f"prefix must be a non-empty string or None, got {prefix!r}"
            )
        if isinstance(mincount, bool) or not isinstance(mincount, int) \
                or mincount < 0:
            raise ValidationError(
                f"mincount must be a non-negative integer, got {mincount!r}"
            )
        if sort not in ("count", "index"):
            raise ValidationError(
                f"sort must be 'count' or 'index', got {sort!r}"
            )
        if not isinstance(fields, (list, tuple)) or not fields or not all(
            isinstance(f, str) and f.strip() for f in fields
        ):
            raise ValidationError(
                f"fields must be a non-empty list of strings, got {fields!r}"
            )
        empty: dict[str, list[tuple[str | None, int]]] = {
            f: [] for f in fields
        }
        mm = self._match_and_meta(query, conjunctive, min_match)
        if mm is None:
            return empty
        per_doc, dm = mm
        from pyspark.sql.window import Window

        base = dm.where(F.col("field").isin(list(fields))).join(
            per_doc.select("doc_id"), "doc_id", "left_semi"
        )
        vals = base
        if prefix is not None:
            vals = vals.where(F.col("value").startswith(prefix))
        counts = vals.groupBy("field", "value").agg(
            F.count("*").alias("count")
        )
        if mincount > 1:
            counts = counts.where(F.col("count") >= mincount)
        if sort == "index":
            order = [F.asc("value")]
        else:
            order = [F.desc("count"), F.asc("value")]
        w = Window.partitionBy("field").orderBy(*order)
        rows = (
            counts.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= k_facet)
            .collect()
        )
        out = dict(empty)
        for r in sorted(rows, key=lambda r: (r["field"], r["_rn"])):
            out[r["field"]].append((r["value"], int(r["count"])))
        if missing:
            n_matched = per_doc.count()
            with_field = {
                r["field"]: int(r["n"])
                for r in base.groupBy("field")
                .agg(F.count_distinct("doc_id").alias("n"))
                .collect()
            }
            for f in fields:
                out[f].append((None, n_matched - with_field.get(f, 0)))
        return out

    def _match_and_meta(
        self, query: str, conjunctive: bool, min_match: int | None,
        scored: bool = False,
    ):
        """Shared head of the metadata-consuming distributed query plans
        (facets, field-sorted search, grouping): (per-doc match DataFrame
        from the bucket-pruned decode kernel in its k=None all-matches
        form, metadata map exploded to EAV rows). None when the index
        lacks a metadata sidecar or the query analyzes to nothing.
        Nothing here materializes on the driver.

        ``scored=False`` ships idf=1 (callers that only consume the
        match SET — facets, sort-by-field); ``scored=True`` ships real
        BM25 idf with df from segment ``n_postings`` metadata — like
        Lucene's ``docFreq``, tombstoned docs count until compaction
        (Lucene scores with pre-merge docFreq too), a pinned divergence
        from the decode-exact df the warm kernel paths use."""
        ds = self._read_or_none("doc_stats")
        if ds is None or "metadata" not in ds.columns:
            return None
        dm = ds.select(
            "doc_id", F.explode(F.col("metadata")).alias("field", "value")
        )
        per_doc = self._match_docs(query, conjunctive, min_match, scored)
        if per_doc is None:
            return None
        return per_doc, dm

    def _match_docs(
        self, query: str, conjunctive: bool, min_match: int | None,
        scored: bool = False,
    ):
        """All-matches per-doc DataFrame from the bucket-pruned decode
        kernel (k=None form) — the match-set half of
        :meth:`_match_and_meta`, reusable by callers that need no
        metadata join (query facets). None when the query analyzes to
        nothing or the index has no segments. Nothing materializes on
        the driver."""
        if min_match is not None and conjunctive:
            # same contract search()/search_distributed() enforce — a
            # conjunctive query already requires every term, so a
            # silently-ignored mm would lie to the caller
            raise ValidationError(
                "min_match applies to disjunctive queries; pass "
                "conjunctive=False"
            )
        terms = list(
            dict.fromkeys(
                analyze_query(query, config=query_config_for(self.analyzer))
            )
        )
        if not terms:
            return None
        seg = self._segments_union(terms)
        if seg is None:
            return None
        from ckanext_extractor_spark.operators.wand import (
            query_segments_distributed,
        )

        st = self.corpus_stats()
        if scored:
            dfm = self._df_for_terms(terms)
            n = float(st["n_docs"])
            terms_idf = {
                t: float(
                    np.log(1.0 + (n - dfm.get(t, 0) + 0.5)
                           / (dfm.get(t, 0) + 0.5))
                )
                for t in terms
            }
        else:
            terms_idf = {t: 1.0 for t in terms}
        return query_segments_distributed(
            self.spark, seg, self._gen_docs_broadcast(), terms_idf,
            st["avgdl"], k=None, conjunctive=conjunctive, n_query_terms=len(terms),
            min_match=min_match,
        )

    def search_sorted(
        self,
        query: str,
        sort_field: str,
        k: int = 10,
        ascending: bool = True,
        conjunctive: bool = True,
        min_match: int | None = None,
    ) -> list[tuple[int, str]]:
        """Matching docs ordered by a metadata field value instead of
        score (Solr ``sort=field asc|desc`` — CKAN's package_search sorts
        on dynamic metadata fields this way). Returns
        ``[(doc_id, value)]``, ties broken doc_id asc.

        Docs missing the field are excluded (an inner join — the
        sortMissingLast debate resolved the SQL-expressible way, pinned
        here). Fully distributed: the k=None match kernel joins the
        exploded metadata rows and a global TakeOrdered materializes only
        the k-window — doc ids never reach the driver before the limit."""
        self._check_access("extractor_search")
        _require_query(query)
        _require_k(k)
        _require_bool("ascending", ascending)
        _require_bool("conjunctive", conjunctive)
        if not isinstance(sort_field, str) or not sort_field.strip():
            raise ValidationError(
                f"sort_field must be a non-empty string, got {sort_field!r}"
            )
        mm = self._match_and_meta(query, conjunctive, min_match)
        if mm is None:
            return []
        per_doc, dm = mm
        vals = (
            dm.where(F.col("field") == sort_field)
            .join(per_doc.select("doc_id"), "doc_id", "left_semi")
        )
        order = (
            F.asc("value") if ascending else F.desc("value"),
            F.asc("doc_id"),
        )
        # clamp: TakeOrdered sizes its per-partition heap by the LIMIT
        # literal, so an all-matches k (10**9) must not reach the plan
        lim = min(k, int(self.corpus_stats()["n_docs"]))
        if lim <= 0:
            return []
        rows = vals.orderBy(*order).limit(lim).collect()
        return [(int(r["doc_id"]), r["value"]) for r in rows]

    def search_sorted_multi(
        self,
        query: str,
        specs: list[tuple[str, bool]],
        k: int = 10,
        conjunctive: bool = True,
        min_match: int | None = None,
    ) -> list[tuple[int, list[str]]]:
        """Matching docs ordered by SEVERAL metadata fields — Solr
        ``sort=f1 asc, f2 desc`` — with ``specs`` a list of
        (field, ascending) pairs applied left to right, final tie
        doc_id asc. The pseudo-field ``"score"`` sorts by the query's
        BM25 score (Solr ``sort=score desc, f asc``); its value in the
        result row is the float score. Returns
        ``[(doc_id, [value per spec])]``. Docs missing ANY metadata
        sort field are excluded (the same inner-join/sortMissingLast
        resolution :meth:`search_sorted` pins for one field; ``score``
        is never missing).

        One distributed plan: the k=None match kernel joins the exploded
        metadata rows once, a conditional-aggregate pivot turns the ≤
        len(specs) EAV rows per doc into one wide row (no per-field
        re-scan), and a global TakeOrdered materializes only the
        k-window."""
        self._check_access("extractor_search")
        _require_query(query)
        _require_k(k)
        _require_bool("conjunctive", conjunctive)
        if not isinstance(specs, (list, tuple)) or not specs or not all(
            isinstance(s, (list, tuple)) and len(s) == 2
            and isinstance(s[0], str) and s[0].strip()
            and isinstance(s[1], bool)
            for s in specs
        ):
            raise ValidationError(
                "specs must be a non-empty list of (field, ascending) "
                f"pairs, got {specs!r}"
            )
        fields = [s[0] for s in specs]
        if len(set(fields)) != len(fields):
            raise ValidationError(f"duplicate sort fields in {specs!r}")
        # the score pseudo-field needs real BM25 sums (scored=True: idf
        # from segment n_postings metadata — Lucene pre-merge docFreq,
        # the same pinned divergence every scored distributed head takes)
        mm = self._match_and_meta(query, conjunctive, min_match,
                                  scored="score" in fields)
        if mm is None:
            return []
        per_doc, dm = mm
        meta_specs = [
            (i, f) for i, f in enumerate(fields) if f != "score"
        ]
        wide = per_doc.select("doc_id", "score")
        if meta_specs:
            piv = (
                dm.where(F.col("field").isin([f for _, f in meta_specs]))
                .join(per_doc.select("doc_id"), "doc_id", "left_semi")
                .groupBy("doc_id")
                .agg(*[
                    F.max(
                        F.when(F.col("field") == f, F.col("value"))
                    ).alias(f"_v{i}")
                    for i, f in meta_specs
                ])
            )
            for i, _ in meta_specs:
                piv = piv.where(F.col(f"_v{i}").isNotNull())
            wide = wide.join(piv, "doc_id")
        cols = {
            i: ("score" if f == "score" else f"_v{i}")
            for i, f in enumerate(fields)
        }
        order = [
            F.asc(cols[i]) if asc else F.desc(cols[i])
            for i, (_, asc) in enumerate(specs)
        ] + [F.asc("doc_id")]
        lim = min(k, int(self.corpus_stats()["n_docs"]))
        if lim <= 0:
            return []
        rows = wide.orderBy(*order).limit(lim).collect()
        return [
            (
                int(r["doc_id"]),
                [
                    float(r["score"]) if f == "score" else r[f"_v{i}"]
                    for i, f in enumerate(fields)
                ],
            )
            for r in rows
        ]

    def rerank_search(
        self,
        query: str,
        rerank_query: str,
        k: int = 10,
        rerank_docs: int = 200,
        weight: float = 2.0,
        conjunctive: bool = True,
        min_match: int | None = None,
    ) -> list[tuple[int, float]]:
        """Two-pass reranking — Solr's ReRankQParser
        (``rq={!rerank reRankQuery=... reRankDocs=N reRankWeight=w}``):
        the first pass ranks by BM25(query); only its top
        ``rerank_docs`` window is rescored as
        ``score + weight * BM25(rerank_query)`` and re-sorted; docs
        below the window keep their first-pass order behind the window
        (Solr parity — reranking never admits or drops docs, and never
        touches the tail). The window boundary is first-pass
        (score desc, doc_id asc), tie-safe.

        Distributed: two scored k=None match kernels; the window is a
        TakeOrdered LIMIT (cluster-side), the rescoring one left join on
        it, the tail an OFFSET of the same first-pass ordering — the
        driver materializes k rows, never the window. This is the cheap
        precision-at-top pattern when ``rerank_query`` is expensive
        (long dismax, function queries): the full corpus pays only the
        first pass."""
        self._check_access("extractor_search")
        _require_query(query)
        _require_query(rerank_query)
        _require_k(k)
        _require_bool("conjunctive", conjunctive)
        if isinstance(rerank_docs, bool) or not isinstance(rerank_docs, int) \
                or rerank_docs < 1:
            raise ValidationError(
                f"rerank_docs must be a positive integer, got {rerank_docs!r}"
            )
        if isinstance(weight, bool) or not isinstance(weight, (int, float)):
            raise ValidationError(f"weight must be a number, got {weight!r}")
        main = self._match_docs(query, conjunctive, min_match, scored=True)
        if main is None:
            return []
        k = min(k, int(self.corpus_stats()["n_docs"]))
        if k <= 0:
            return []
        first = main.select("doc_id", "score")
        window = first.orderBy(
            F.desc("score"), F.asc("doc_id")
        ).limit(rerank_docs)
        rr = self._match_docs(rerank_query, False, None, scored=True)
        rescored = window
        if rr is not None:
            rescored = (
                window.join(
                    rr.select("doc_id", F.col("score").alias("_rr")),
                    "doc_id",
                    "left",
                )
                .select(
                    "doc_id",
                    (
                        F.col("score")
                        + F.lit(float(weight)) * F.coalesce("_rr", F.lit(0.0))
                    ).alias("score"),
                )
            )
        rows = (
            rescored.orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
            .collect()
        )
        out = [(int(r["doc_id"]), float(r["score"])) for r in rows]
        if k > rerank_docs and len(out) == rerank_docs:
            tail = (
                first.orderBy(F.desc("score"), F.asc("doc_id"))
                .offset(rerank_docs)
                .limit(k - rerank_docs)
                .collect()
            )
            out.extend((int(r["doc_id"]), float(r["score"])) for r in tail)
        return out

    def boost_query_search(
        self,
        query: str,
        bq: str,
        k: int = 10,
        weight: float = 1.0,
        conjunctive: bool = True,
        min_match: int | None = None,
    ) -> list[tuple[int, float]]:
        """Boost query — edismax ``bq`` (additive query boost):
        ``score' = BM25(query) + weight * BM25(bq)`` for docs in the
        MAIN query's match set. The boost query is a SHOULD clause the
        Lucene way — it re-ranks but never admits a doc the main query
        doesn't match, and docs outside the bq match set keep their
        plain score (boost contribution 0). The main query is
        conjunctive by default; the boost query is always disjunctive
        (Solr's bq is a free-standing OR-ish query layered on top).
        Reference analog: CKAN deployments tune package_search with bq
        on dataset type/org (plugin.py:40,140 runs that parser config).
        Returns [(doc_id, score)], boosted score desc, doc_id asc.

        Distributed: two bucket-pruned decode-kernel match sets
        (scored, k=None), one left join on doc_id, one TakeOrdered —
        doc ids never reach the driver. BM25 idf follows the pre-merge
        docFreq convention of the scored distributed head
        (:meth:`_match_and_meta`)."""
        self._check_access("extractor_search")
        _require_query(query)
        _require_query(bq)
        _require_k(k)
        _require_bool("conjunctive", conjunctive)
        if isinstance(weight, bool) or not isinstance(weight, (int, float)):
            raise ValidationError(
                f"weight must be a number, got {weight!r}"
            )
        main = self._match_docs(query, conjunctive, min_match, scored=True)
        if main is None:
            return []
        bqm = self._match_docs(bq, False, None, scored=True)
        k = min(k, int(self.corpus_stats()["n_docs"]))
        if k <= 0:
            return []
        scored = main.select("doc_id", "score")
        if bqm is not None:
            scored = (
                scored.join(
                    bqm.select(
                        "doc_id", F.col("score").alias("_bq")
                    ),
                    "doc_id",
                    "left",
                )
                .select(
                    "doc_id",
                    (
                        F.col("score")
                        + F.lit(float(weight)) * F.coalesce("_bq", F.lit(0.0))
                    ).alias("score"),
                )
            )
        rows = (
            scored.orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
            .collect()
        )
        return [(int(r["doc_id"]), float(r["score"])) for r in rows]

    def boosted_search(
        self,
        query: str,
        boost_field: str,
        k: int = 10,
        weight: float = 1.0,
        conjunctive: bool = True,
        min_match: int | None = None,
        multiplicative: bool = False,
    ) -> list[tuple[int, float]]:
        """Function-query boosting — edismax ``bf`` (additive boost):
        ``score' = BM25 + weight * numeric(metadata[boost_field])``, the
        way CKAN-style installs boost fresher/more-popular datasets.
        Docs whose field is missing or non-numeric get boost 0 (Solr
        returns 0 for missing function values).
        ``multiplicative=True`` is edismax ``boost`` (``{!boost b=f}``):
        ``score' = BM25 * weight * numeric(field)`` — Solr's fieldvalue
        source also yields 0 for missing values, so unboosted docs score
        0 and rank by doc_id (pinned parity). Returns
        [(doc_id, score)], boosted score desc, doc_id asc.

        Distributed: the scored k=None match kernel left-joins the EAV
        rows (try_cast to double), one TakeOrdered materializes k rows.
        BM25 idf follows the pre-merge docFreq convention of the scored
        distributed head (:meth:`_match_and_meta`)."""
        self._check_access("extractor_search")
        _require_query(query)
        _require_k(k)
        _require_bool("conjunctive", conjunctive)
        if not isinstance(boost_field, str) or not boost_field.strip():
            raise ValidationError(
                f"boost_field must be a non-empty string, got {boost_field!r}"
            )
        if isinstance(weight, bool) or not isinstance(weight, (int, float)):
            raise ValidationError(
                f"weight must be a number, got {weight!r}"
            )
        _require_bool("multiplicative", multiplicative)
        mm = self._match_and_meta(query, conjunctive, min_match,
                                  scored=True)
        if mm is None:
            return []
        per_doc, dm = mm
        bf = (
            dm.where(F.col("field") == boost_field)
            .select(
                "doc_id",
                F.col("value").try_cast("double").alias("_bv"),
            )
        )
        # clamp: TakeOrdered sizes its per-partition heap by the LIMIT
        # literal (the r2 all-matches-phrase OOM class) — an all-matches
        # k must not reach the plan
        k = min(k, int(self.corpus_stats()["n_docs"]))
        if k <= 0:
            return []
        bv = F.coalesce("_bv", F.lit(0.0))
        if multiplicative:
            boosted = F.col("score") * F.lit(float(weight)) * bv
        else:
            boosted = F.col("score") + F.lit(float(weight)) * bv
        rows = (
            per_doc.select("doc_id", "score")
            .join(bf, "doc_id", "left")
            .select("doc_id", boosted.alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
            .collect()
        )
        return [(int(r["doc_id"]), float(r["score"])) for r in rows]

    def function_query_search(
        self,
        query: str,
        boost_expr: str,
        k: int = 10,
        weight: float = 1.0,
        conjunctive: bool = True,
        min_match: int | None = None,
        multiplicative: bool = False,
    ) -> list[tuple[int, float]]:
        """Function-query boosting with the full Solr value-source
        expression language — edismax ``bf=<expr>`` (additive) /
        ``boost=<expr>`` (multiplicative) where ``<expr>`` composes
        ``sum/sub/product/div/min/max/abs/log/ln/sqrt/pow/recip/if/
        exists/field`` over metadata fields and literals (e.g.
        ``recip(n-chars,1,1000,1000)`` length decay,
        ``if(exists(popularity),product(popularity,2),1)``).

        The expression parses ONCE on the driver and compiles to ONE
        Catalyst column; field references resolve from a conditional-
        aggregate pivot of the metadata EAV rows NARROWED to exactly the
        referenced fields, left-joined to the scored k=None match
        kernel, then a single TakeOrdered materializes k rows — no
        per-row Python, no driver-side match set. Missing/non-numeric
        field values read 0.0 (Lucene FunctionValues parity);
        ``boosted_search(boost_field=f)`` is the one-field special case
        of this."""
        self._check_access("extractor_search")
        _require_query(query)
        _require_k(k)
        _require_bool("conjunctive", conjunctive)
        _require_bool("multiplicative", multiplicative)
        if isinstance(weight, bool) or not isinstance(weight, (int, float)):
            raise ValidationError(f"weight must be a number, got {weight!r}")
        from ckanext_extractor_spark.operators.funcquery import (
            FuncQuerySyntaxError,
            compile_funcquery,
            parse_funcquery,
            referenced_fields,
        )

        try:
            ast = parse_funcquery(boost_expr)
        except FuncQuerySyntaxError as e:
            raise ValidationError(f"bad boost_expr: {e}") from e
        fields = sorted(referenced_fields(ast))
        mm = self._match_and_meta(query, conjunctive, min_match, scored=True)
        if mm is None:
            return []
        per_doc, dm = mm
        rows_df = per_doc.select("doc_id", "score")
        if fields:
            # one narrow pivot: <=len(fields) conditional MAX aggregates
            pivot = dm.where(F.col("field").isin(fields)).groupBy(
                "doc_id"
            ).agg(
                *[
                    F.max(
                        F.when(
                            F.col("field") == f_,
                            F.col("value").try_cast("double"),
                        )
                    ).alias(f"_f{i}")
                    for i, f_ in enumerate(fields)
                ]
            )
            rows_df = rows_df.join(pivot, "doc_id", "left")
            colmap = {f_: F.col(f"_f{i}") for i, f_ in enumerate(fields)}
        else:
            colmap = {}

        def field_col(name: str):
            if name not in colmap:
                raise AssertionError(name)  # referenced_fields covers all
            return colmap[name]

        bv = compile_funcquery(ast, field_col)
        if multiplicative:
            boosted = F.col("score") * F.lit(float(weight)) * bv
        else:
            boosted = F.col("score") + F.lit(float(weight)) * bv
        k = min(k, int(self.corpus_stats()["n_docs"]))
        if k <= 0:
            return []
        rows = (
            rows_df.select("doc_id", boosted.alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
            .collect()
        )
        return [(int(r["doc_id"]), float(r["score"])) for r in rows]

    def json_facets(
        self,
        query: str,
        spec: dict,
        conjunctive: bool = True,
        min_match: int | None = None,
    ) -> dict:
        """Solr JSON Facet API (``json.facet={...}``) — the recursive
        facet spec that supersedes flat facet.field/facet.pivot in the
        Solr the reference indexes into (plugin.py IPackageController
        feeds the same index CKAN's package_search facets over): *terms*
        / *range* / *query* bucket facets carrying per-bucket statistics
        (``"avg_len": "avg(n-chars)"``) and arbitrarily nested
        sub-facets, with buckets sortable by any sibling statistic
        (``"sort": {"avg_len": "desc"}``).

        Spec grammar, semantics, and pinned divergences are documented
        in :mod:`ckanext_extractor_spark.operators.jsonfacet` (the
        validator/parser/stat-compiler). Response shape is Solr's:
        ``{"count": N, <stat>: value, <query>: {"count": n},
        <terms/range>: {"buckets": [{"val": v, "count": n,
        <substat>: x, <subfacet>: {...}}, ...]}}``.

        Distributed shape (the pivot_facets design generalized): ONE
        persisted wide frame = match set ⋈ metadata pivot narrowed to
        the referenced stat fields ⋈ one match-flag column per distinct
        query-facet q; then ONE hash-aggregate job per bucket node —
        grouped by the node's bucket path, pruned to the parent's kept
        buckets by a broadcast join (≤ the product of limits rows),
        window-top-k per parent (count/index/any sibling stat as the
        key) — so the driver only ever materializes bucket rows, never
        match sets. Range facets zero-fill their bucket spine
        (mincount=0 Solr default) from a driver-built starts frame
        (≤ 10k buckets, ≤ 100k parent×bucket rows enforced)."""
        self._check_access("extractor_search")
        _require_query(query)
        _require_bool("conjunctive", conjunctive)
        import math

        from pyspark.sql.window import Window

        from ckanext_extractor_spark.operators.jsonfacet import (
            JsonFacetError,
            parse_facet_spec,
            referenced_queries,
            referenced_stat_fields,
            stat_column,
        )

        try:
            fs = parse_facet_spec(spec)
        except JsonFacetError as e:
            raise ValidationError(f"bad json.facet spec: {e}") from e

        def shell(fset, count: int) -> dict:
            out: dict = {"count": count}
            for name in fset.stats:
                out[name] = None
            for name in fset.queries:
                out[name] = {"count": 0}
            for name in fset.buckets:
                out[name] = {"buckets": []}
            return out

        mm = self._match_and_meta(query, conjunctive, min_match)
        if mm is None:
            return shell(fs, 0)
        per_doc, dm = mm
        num_fields, raw_fields = referenced_stat_fields(fs)
        queries = referenced_queries(fs)

        wide = per_doc.select("doc_id")
        numcol: dict[str, F.Column] = {}
        rawcol: dict[str, F.Column] = {}
        pf = sorted(num_fields | raw_fields)
        if pf:
            aggs = []
            for i, f_ in enumerate(pf):
                if f_ in num_fields:
                    aggs.append(
                        F.max(
                            F.when(
                                F.col("field") == f_,
                                F.col("value").try_cast("double"),
                            )
                        ).alias(f"_n{i}")
                    )
                    numcol[f_] = F.col(f"_n{i}")
                if f_ in raw_fields:
                    aggs.append(
                        F.max(
                            F.when(F.col("field") == f_, F.col("value"))
                        ).alias(f"_s{i}")
                    )
                    rawcol[f_] = F.col(f"_s{i}")
            pivot = dm.where(F.col("field").isin(pf)).groupBy(
                "doc_id"
            ).agg(*aggs)
            wide = wide.join(pivot, "doc_id", "left")
        qflag: dict[str, F.Column] = {}
        for qi, q2 in enumerate(queries):
            m2 = self._match_docs(q2, True, None)
            if m2 is None:
                wide = wide.withColumn(f"_q{qi}", F.lit(None).cast("int"))
            else:
                wide = wide.join(
                    m2.select("doc_id").withColumn(f"_q{qi}", F.lit(1)),
                    "doc_id",
                    "left",
                )
            qflag[q2] = F.col(f"_q{qi}")

        def stat_aggs(node) -> list:
            cols = []
            for name, s in node.stats.items():
                src = rawcol[s.field] if s.fn == "unique" else numcol[s.field]
                cols.append(stat_column(s, src).alias(name))
            for name, qf2 in node.queries.items():
                cols.append(
                    F.count(
                        F.when(qflag[qf2.q].isNotNull(), F.lit(1))
                    ).alias(name)
                )
            return cols

        def to_bucket(node, r, bcol: str) -> dict:
            b: dict = {"val": r[bcol], "count": int(r["count"])}
            for name, s in node.stats.items():
                v = r[name]
                if v is None:
                    b[name] = None
                elif s.fn == "unique":
                    b[name] = int(v)
                else:
                    b[name] = float(v)
            for name in node.queries:
                b[name] = {"count": int(r[name])}
            return b

        def eval_bucket(node, frame, depth, parent_keys, key_types):
            """One aggregate job for this node (+ recursion into its
            sub-bucket facets). Returns ordered
            [(full key tuple, bucket dict), ...]."""
            bcol = f"_b{depth}"
            gcols = [f"_b{i}" for i in range(depth + 1)]
            if node.kind == "terms":
                eav = (
                    dm.where(F.col("field") == node.field)
                    .select("doc_id", F.col("value").alias(bcol))
                    .distinct()
                )
                nf = frame.join(eav, "doc_id")
                my_type = "string"
            else:
                x = numcol[node.field]
                start, gap = node.start, node.gap
                nf = frame.where(
                    x.isNotNull()
                    & (x >= F.lit(start))
                    & (x < F.lit(node.end))
                ).withColumn(
                    bcol,
                    F.lit(start)
                    + F.lit(gap) * F.floor((x - F.lit(start)) / F.lit(gap)),
                )
                my_type = "double"
            grp = nf.groupBy(*gcols).agg(
                F.count("*").alias("count"), *stat_aggs(node)
            )
            if depth > 0:
                grp = grp.join(F.broadcast(parent_keys), gcols[:-1])
            if node.kind == "terms":
                if node.mincount > 0:
                    grp = grp.where(F.col("count") >= node.mincount)
                if node.sort_key == "count":
                    key = F.col("count")
                elif node.sort_key == "index":
                    key = F.col(bcol)
                else:
                    key = F.col(node.sort_key)
                # null-stat buckets last in BOTH directions (the pinned
                # jsonfacet contract) — asc_nulls_first would let empty
                # buckets evict real ones past the limit
                primary = (
                    key.desc_nulls_last()
                    if node.sort_dir == "desc"
                    else key.asc_nulls_last()
                )
                w = Window.partitionBy(
                    *(gcols[:-1] or [F.lit(0)])
                ).orderBy(primary, F.asc(bcol))
                ranked = grp.withColumn("_rn", F.row_number().over(w))
                if node.limit != -1:
                    ranked = ranked.where(F.col("_rn") <= node.limit)
                rows = ranked.collect()
                rows.sort(
                    key=lambda r: (
                        tuple(r[g] for g in gcols[:-1]),
                        r["_rn"],
                    )
                )
            else:
                n_b = int(
                    math.ceil((node.end - node.start) / node.gap - 1e-12)
                )
                starts = [node.start + i * node.gap for i in range(n_b)]
                spine = self.spark.createDataFrame(
                    [(s,) for s in starts], f"{bcol} double"
                )
                if depth > 0:
                    n_parents = parent_keys.count()
                    if n_parents * n_b > 100_000:
                        raise ValidationError(
                            f"range facet over {node.field}: "
                            f"{n_parents}x{n_b} parent-bucket rows "
                            "exceeds the 100000 cap"
                        )
                    spine = parent_keys.crossJoin(spine)
                filled = spine.join(grp, gcols, "left").fillna(
                    {"count": 0}
                )
                if node.mincount > 0:
                    filled = filled.where(F.col("count") >= node.mincount)
                rows = filled.collect()
                rows.sort(key=lambda r: tuple(r[g] for g in gcols))
            by_key: dict[tuple, dict] = {}
            out = []
            for r in rows:
                kt = tuple(r[g] for g in gcols)
                b = to_bucket(node, r, bcol)
                by_key[kt] = b
                out.append((kt, b))
            for cname, cnode in node.buckets.items():
                for _, b in out:
                    b[cname] = {"buckets": []}
                if not out:
                    continue
                pk_schema = ", ".join(
                    f"_b{i} {t}"
                    for i, t in enumerate(key_types + [my_type])
                )
                pk_df = self.spark.createDataFrame(
                    [k for k, _ in out], pk_schema
                )
                for ckt, cb in eval_bucket(
                    cnode, nf, depth + 1, pk_df, key_types + [my_type]
                ):
                    by_key[ckt[:-1]][cname]["buckets"].append(cb)
            return out

        wide = wide.persist()
        try:
            n_matched = int(wide.count())
            result: dict = {"count": n_matched}
            top = stat_aggs(fs)
            if top:
                row = wide.agg(*top).collect()[0]
                for name, s in fs.stats.items():
                    v = row[name]
                    if v is None:
                        result[name] = None
                    elif s.fn == "unique":
                        result[name] = int(v)
                    else:
                        result[name] = float(v)
                for name in fs.queries:
                    result[name] = {"count": int(row[name])}
            for name, node in fs.buckets.items():
                result[name] = {
                    "buckets": [
                        b for _, b in eval_bucket(node, wide, 0, None, [])
                    ]
                }
            return result
        finally:
            wide.unpersist()

    _LTR_NORMALIZERS = ("minmax", "standard")

    def ltr_rerank(
        self,
        query: str,
        features: dict[str, str],
        weights: dict[str, float],
        rerank_docs: int = 1000,
        k: int = 10,
        normalizers: dict | None = None,
        conjunctive: bool = True,
        min_match: int | None = None,
    ) -> list[tuple[int, float]]:
        """Learning-to-rank rerank — Solr's LTR contrib
        (``rq={!ltr model=m reRankDocs=n}``) with a LinearModel: each
        feature is ``"originalScore"`` (the BM25 retrieval score — Solr
        OriginalScoreFeature) or a value-source expression over stored
        fields (Solr SolrFeature/FieldValueFeature — the
        :mod:`funcquery` language), optionally normalized
        (``normalizers={name: ("minmax", lo, hi) | ("standard", avg,
        std)}`` — Solr's MinMax/StandardNormalizer); the model score is
        ``sum(weights[f] * norm(feature_f))`` and only the top
        ``rerank_docs`` docs by original score are rescored (Solr's
        rerank window).

        Distributed shape: scored k=None kernel -> TakeOrdered
        rerank_docs (cluster-side limit, NOT a driver materialization)
        -> ONE metadata pivot narrowed to the union of referenced
        fields -> every feature + the linear model as Catalyst columns
        -> TakeOrdered k. Feature extraction is whole-stage codegen;
        the driver sees k rows."""
        self._check_access("extractor_search")
        _require_query(query)
        _require_k(k)
        _require_bool("conjunctive", conjunctive)
        if isinstance(rerank_docs, bool) or not isinstance(rerank_docs, int) \
                or rerank_docs < 1:
            raise ValidationError(
                f"rerank_docs must be a positive int, got {rerank_docs!r}"
            )
        if k > rerank_docs:
            raise ValidationError(
                f"k ({k}) cannot exceed rerank_docs ({rerank_docs})"
            )
        if not isinstance(features, dict) or not features or not all(
            isinstance(n, str) and n and isinstance(s, str) and s.strip()
            for n, s in features.items()
        ):
            raise ValidationError(
                "features must be a non-empty {name: spec} dict of "
                f"strings, got {features!r}"
            )
        if not isinstance(weights, dict) or set(weights) != set(features) \
                or any(isinstance(w, bool) or
                       not isinstance(w, (int, float))
                       for w in weights.values()):
            raise ValidationError(
                "weights must give one number per feature name"
            )
        norms = normalizers or {}
        if not isinstance(norms, dict):
            raise ValidationError(
                f"normalizers must be a dict, got {norms!r}"
            )
        for n, spec in norms.items():
            if n not in features:
                raise ValidationError(
                    f"normalizer for unknown feature {n!r}"
                )
            ok = (
                isinstance(spec, (tuple, list)) and len(spec) == 3
                and spec[0] in self._LTR_NORMALIZERS
                and all(isinstance(x, (int, float))
                        and not isinstance(x, bool) for x in spec[1:])
            )
            if ok and spec[0] == "minmax" and spec[2] <= spec[1]:
                ok = False
            if ok and spec[0] == "standard" and spec[2] <= 0:
                ok = False
            if not ok:
                raise ValidationError(
                    f"normalizer for {n!r} must be ('minmax', lo, hi) "
                    f"with hi > lo or ('standard', avg, std) with "
                    f"std > 0, got {spec!r}"
                )
        from ckanext_extractor_spark.operators.funcquery import (
            FuncQuerySyntaxError,
            compile_funcquery,
            parse_funcquery,
            referenced_fields,
        )

        asts: dict[str, object] = {}
        fields: set[str] = set()
        for name, spec in features.items():
            if spec == "originalScore":
                asts[name] = None
                continue
            try:
                asts[name] = parse_funcquery(spec)
            except FuncQuerySyntaxError as e:
                raise ValidationError(
                    f"bad feature {name!r}: {e}"
                ) from e
            fields |= referenced_fields(asts[name])
        mm = self._match_and_meta(query, conjunctive, min_match,
                                  scored=True)
        if mm is None:
            return []
        per_doc, dm = mm
        window = (
            per_doc.select("doc_id", "score")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(rerank_docs)
        )
        flist = sorted(fields)
        if flist:
            pivot = dm.where(F.col("field").isin(flist)).groupBy(
                "doc_id"
            ).agg(
                *[
                    F.max(
                        F.when(
                            F.col("field") == f_,
                            F.col("value").try_cast("double"),
                        )
                    ).alias(f"_f{i}")
                    for i, f_ in enumerate(flist)
                ]
            )
            window = window.join(pivot, "doc_id", "left")
        colmap = {f_: F.col(f"_f{i}") for i, f_ in enumerate(flist)}

        def field_col(name: str):
            return colmap[name]

        model = F.lit(0.0)
        for name, ast in asts.items():
            feat = (
                F.col("score") if ast is None
                else compile_funcquery(ast, field_col)
            )
            nspec = norms.get(name)
            if nspec is not None:
                kind, a, b = nspec
                if kind == "minmax":
                    feat = (feat - F.lit(float(a))) / F.lit(
                        float(b) - float(a)
                    )
                else:
                    feat = (feat - F.lit(float(a))) / F.lit(float(b))
            model = model + F.lit(float(weights[name])) * feat
        k = min(k, int(self.corpus_stats()["n_docs"]))
        if k <= 0:
            return []
        rows = (
            window.select("doc_id", model.alias("_model"))
            .orderBy(F.desc("_model"), F.asc("doc_id"))
            .limit(k)
            .collect()
        )
        return [(int(r["doc_id"]), float(r["_model"])) for r in rows]

    # Solr DistanceUtils.EARTH_MEAN_RADIUS_KM — pinned so geodist()
    # values match Solr's haversine to the meter
    _EARTH_RADIUS_KM = 6371.0087714

    def spatial_search(
        self,
        query: str,
        field: str,
        pt: tuple[float, float],
        d_km: float,
        k: int = 10,
        sort: str = "distance",
        conjunctive: bool = True,
        min_match: int | None = None,
    ) -> list[tuple[int, float]]:
        """Spatial filter + distance sort — Solr
        ``fq={!geofilt sfield=f pt=lat,lon d=km}`` with
        ``sort=geodist() asc`` (LatLonPointSpatialField): keep the
        matching docs whose ``field`` metadata holds a ``"lat,lon"``
        point within ``d_km`` great-circle km of ``pt``, returning
        ``(doc_id, distance_km)`` ordered by ``sort="distance"``
        (geodist asc, doc_id tie-break) or ``sort="doc_id"``.

        The haversine evaluates as ONE Catalyst expression (radians/
        sin/cos/asin are all JVM built-ins — no Python in the loop)
        over the match-set ⋈ metadata pivot frame, with Solr's earth
        mean radius (6371.0087714 km) pinned for geodist parity;
        malformed / missing points never match (Lucene skips docs
        without the field). The driver materializes k rows via
        TakeOrdered; the filter and distance never leave the cluster."""
        self._check_access("extractor_search")
        _require_query(query)
        _require_k(k)
        _require_bool("conjunctive", conjunctive)
        if not isinstance(field, str) or not field.strip():
            raise ValidationError(
                f"field must be a non-empty string, got {field!r}"
            )
        if (
            not isinstance(pt, (tuple, list)) or len(pt) != 2
            or any(isinstance(c, bool) or not isinstance(c, (int, float))
                   for c in pt)
            or not -90 <= pt[0] <= 90 or not -180 <= pt[1] <= 180
        ):
            raise ValidationError(
                f"pt must be a (lat, lon) pair with lat in [-90, 90] "
                f"and lon in [-180, 180], got {pt!r}"
            )
        if isinstance(d_km, bool) or not isinstance(d_km, (int, float)) \
                or d_km <= 0:
            raise ValidationError(
                f"d_km must be a positive number, got {d_km!r}"
            )
        if sort not in ("distance", "doc_id"):
            raise ValidationError(
                f"sort must be 'distance' or 'doc_id', got {sort!r}"
            )
        mm = self._match_and_meta(query, conjunctive, min_match)
        if mm is None:
            return []
        per_doc, dm = mm
        parts = F.split(F.col("value"), ",", 2)
        lat = F.trim(parts.getItem(0)).try_cast("double")
        lon = F.trim(parts.getItem(1)).try_cast("double")
        pts = dm.where(
            (F.col("field") == field) & (F.size(parts) == 2)
        ).select(
            "doc_id", lat.alias("_lat"), lon.alias("_lon")
        ).where(F.col("_lat").isNotNull() & F.col("_lon").isNotNull())
        lat1 = F.radians(F.lit(float(pt[0])))
        lon1 = F.radians(F.lit(float(pt[1])))
        lat2 = F.radians(F.col("_lat"))
        lon2 = F.radians(F.col("_lon"))
        h = (
            F.pow(F.sin((lat2 - lat1) / 2), 2)
            + F.cos(lat1) * F.cos(lat2)
            * F.pow(F.sin((lon2 - lon1) / 2), 2)
        )
        dist = (
            F.lit(2.0 * self._EARTH_RADIUS_KM)
            * F.asin(F.least(F.lit(1.0), F.sqrt(h)))
        )
        k = min(k, int(self.corpus_stats()["n_docs"]))
        if k <= 0:
            return []
        frame = (
            per_doc.select("doc_id")
            .join(pts, "doc_id")
            .withColumn("_dist", dist)
            .where(F.col("_dist") <= F.lit(float(d_km)))
        )
        order = (
            [F.asc("_dist"), F.asc("doc_id")]
            if sort == "distance"
            else [F.asc("doc_id")]
        )
        rows = (
            frame.select("doc_id", "_dist")
            .orderBy(*order)
            .limit(k)
            .collect()
        )
        return [(int(r["doc_id"]), float(r["_dist"])) for r in rows]

    def pivot_facets(
        self,
        query: str,
        fields: list[str],
        k_per_level: int = 5,
        conjunctive: bool = True,
        min_match: int | None = None,
    ) -> list:
        """Nested facet counts — Solr ``facet.pivot=f1,f2,...``. Returns
        the pivot tree ``[(value, count, children), ...]``, each level
        ranked count desc / value asc and pruned to ``k_per_level``
        (children only under surviving parents, as Solr prunes).

        Distributed shape: one match kernel + one metadata-EAV join per
        level feed a single deepest-level hash aggregate; every
        shallower level is a re-aggregate of that (no second pass over
        postings), pruning is window row_number per parent prefix, and
        only the pruned pivot rows (<= k^depth) reach the driver."""
        self._check_access("extractor_search")
        _require_query(query)
        _require_bool("conjunctive", conjunctive)
        if (
            not isinstance(fields, (list, tuple))
            or not fields
            or not all(isinstance(f, str) and f.strip() for f in fields)
        ):
            raise ValidationError(
                f"fields must be a non-empty list of strings, got {fields!r}"
            )
        if (
            isinstance(k_per_level, bool)
            or not isinstance(k_per_level, int)
            or k_per_level < 1
        ):
            raise ValidationError(
                f"k_per_level must be a positive integer, got {k_per_level!r}"
            )
        mm = self._match_and_meta(query, conjunctive, min_match)
        if mm is None:
            return []
        per_doc, dm = mm
        from pyspark.sql.window import Window

        j = per_doc.select("doc_id")
        vcols = [f"_v{i}" for i in range(len(fields))]
        for i, f in enumerate(fields):
            ev = (
                dm.where(F.col("field") == f)
                .select("doc_id", F.col("value").alias(vcols[i]))
            )
            j = j.join(ev, "doc_id")
        deep = j.groupBy(*vcols).agg(F.count("*").alias("_cnt"))
        # one job per level re-reads the deepest aggregate — persist so
        # the match kernel runs once, not depth times
        deep = deep.persist()
        try:
            pruned = None
            levels = []
            for i in range(len(fields)):
                pre = vcols[: i + 1]
                lvl = deep.groupBy(*pre).agg(F.sum("_cnt").alias("_n"))
                if pruned is not None:
                    lvl = lvl.join(pruned, vcols[:i], "left_semi")
                w = (
                    Window.partitionBy(*vcols[:i]) if i
                    else Window.partitionBy()
                ).orderBy(F.desc("_n"), F.asc(vcols[i]))
                pruned = (
                    lvl.withColumn("_rn", F.row_number().over(w))
                    .where(F.col("_rn") <= k_per_level)
                    .drop("_rn")
                )
                levels.append(pruned.collect())
        finally:
            deep.unpersist()

        def build(depth: int, prefix: tuple) -> list:
            if depth == len(fields):
                return []
            rows = [
                r for r in levels[depth]
                if tuple(r[c] for c in vcols[:depth]) == prefix
            ]
            rows.sort(key=lambda r: (-r["_n"], r[vcols[depth]]))
            return [
                (
                    r[vcols[depth]],
                    int(r["_n"]),
                    build(depth + 1, prefix + (r[vcols[depth]],)),
                )
                for r in rows
            ]

        return build(0, ())

    def field_stats(
        self,
        query: str,
        field: str,
        conjunctive: bool = True,
        min_match: int | None = None,
        percentiles: list[float] | None = None,
    ) -> dict:
        """Solr StatsComponent (``stats.field``) over the matching docs:
        ``count`` (docs carrying the field), ``missing`` (matching docs
        without it), lexicographic ``min``/``max`` (the reference's
        dynamic fields are Solr strings), and ``sum``/``mean``/
        ``stddev`` when every present value parses as a number (Solr
        numeric stats; stddev is the sample estimator, Solr parity),
        else None. ``percentiles`` (fractions in (0, 1] — Solr's
        ``percentiles`` param takes percent, divide by 100) adds
        ``{"percentiles": {p: value}}``; Spark's ``percentile`` is the
        EXACT linearly-interpolated quantile (a distributed sort-based
        aggregate), a pinned upgrade over Solr's approximate t-digest —
        exact answers, same single-aggregate shape. One distributed
        aggregate over the match ⋈ EAV join — a single row reaches the
        driver."""
        self._check_access("extractor_search")
        _require_query(query)
        _require_bool("conjunctive", conjunctive)
        if not isinstance(field, str) or not field.strip():
            raise ValidationError(
                f"field must be a non-empty string, got {field!r}"
            )
        if percentiles is not None:
            if not isinstance(percentiles, (list, tuple)) or not percentiles \
                    or not all(
                        isinstance(p, float) and 0.0 < p <= 1.0
                        for p in percentiles
                    ):
                raise ValidationError(
                    "percentiles must be a non-empty list of floats in "
                    f"(0, 1], got {percentiles!r}"
                )
        empty = {"count": 0, "missing": 0, "min": None, "max": None,
                 "sum": None, "mean": None, "stddev": None}
        if percentiles is not None:
            empty["percentiles"] = {p: None for p in percentiles}
        mm = self._match_and_meta(query, conjunctive, min_match)
        if mm is None:
            return empty
        per_doc, dm = mm
        vals = dm.where(F.col("field") == field).join(
            per_doc.select("doc_id"), "doc_id", "left_semi"
        )
        # try_cast: ANSI mode (Spark 4 default) makes a plain cast THROW
        # on non-numeric strings; stats must degrade to string-only
        num = F.col("value").try_cast("double")
        aggs = [
            F.count("value").alias("cnt"),
            F.sum(F.col("value").isNull().cast("long")).alias("miss"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
            F.count(num).alias("numeric_cnt"),
            F.sum(num).alias("sm"),
            F.avg(num).alias("mean"),
            F.stddev_samp(num).alias("sd"),
        ]
        if percentiles is not None:
            aggs.append(
                F.percentile(
                    num, F.array(*[F.lit(float(p)) for p in percentiles])
                ).alias("pcts")
            )
        row = (
            per_doc.join(
                vals.select("doc_id", "value"), "doc_id", "left"
            )
            .agg(*aggs)
            .collect()[0]
        )
        if row["cnt"] == 0:
            return {**empty, "missing": int(row["miss"] or 0)}
        numeric = int(row["numeric_cnt"]) == int(row["cnt"])
        out = {
            "count": int(row["cnt"]),
            "missing": int(row["miss"] or 0),
            "min": row["mn"],
            "max": row["mx"],
            "sum": float(row["sm"]) if numeric else None,
            "mean": float(row["mean"]) if numeric else None,
            "stddev": (
                float(row["sd"]) if numeric and row["sd"] is not None
                else None
            ),
        }
        if percentiles is not None:
            pc = row["pcts"] if numeric else None
            out["percentiles"] = {
                p: (float(pc[i]) if pc is not None and pc[i] is not None
                    else None)
                for i, p in enumerate(percentiles)
            }
        return out

    def field_stats_by(
        self,
        query: str,
        field: str,
        facet_field: str,
        k: int = 10,
        conjunctive: bool = True,
        min_match: int | None = None,
    ) -> list[tuple[str, dict]]:
        """Solr StatsComponent with ``stats.facet``: :meth:`field_stats`
        of ``field`` broken down per ``facet_field`` value over the
        matching docs — count/missing, lexicographic min/max, numeric
        sum/mean (try_cast bridge, all-numeric gate per bucket like the
        flat stats). The top ``k`` facet values by matching-doc count
        (ties value asc), matching the flat facet ranking. A matching
        doc without the facet field belongs to no bucket (Solr drops
        them from stats.facet too). Returns [(facet_value, stats_dict)].

        One distributed plan: match ⋈ facet-EAV ⋈ stat-EAV (left), one
        grouped aggregate — k rows reach the driver."""
        self._check_access("extractor_search")
        _require_query(query)
        _require_k(k)
        _require_bool("conjunctive", conjunctive)
        for name, f in (("field", field), ("facet_field", facet_field)):
            if not isinstance(f, str) or not f.strip():
                raise ValidationError(
                    f"{name} must be a non-empty string, got {f!r}"
                )
        mm = self._match_and_meta(query, conjunctive, min_match)
        if mm is None:
            return []
        per_doc, dm = mm
        fv = dm.where(F.col("field") == facet_field).select(
            "doc_id", F.col("value").alias("_facet")
        ).join(per_doc.select("doc_id"), "doc_id", "left_semi")
        sv = dm.where(F.col("field") == field).select(
            "doc_id", F.col("value").alias("_sv")
        )
        num = F.col("_sv").try_cast("double")
        rows = (
            fv.join(sv, "doc_id", "left")
            .groupBy("_facet")
            .agg(
                F.count_distinct("doc_id").alias("ndocs"),
                F.count("_sv").alias("cnt"),
                F.sum(F.col("_sv").isNull().cast("long")).alias("miss"),
                F.min("_sv").alias("mn"),
                F.max("_sv").alias("mx"),
                F.count(num).alias("numeric_cnt"),
                F.sum(num).alias("sm"),
                F.avg(num).alias("mean"),
            )
            .orderBy(F.desc("ndocs"), F.asc("_facet"))
            .limit(k)
            .collect()
        )
        out = []
        for r in rows:
            numeric = int(r["numeric_cnt"]) == int(r["cnt"]) and \
                int(r["cnt"]) > 0
            out.append((
                r["_facet"],
                {
                    "count": int(r["cnt"]),
                    "missing": int(r["miss"] or 0),
                    "min": r["mn"],
                    "max": r["mx"],
                    "sum": float(r["sm"]) if numeric else None,
                    "mean": float(r["mean"]) if numeric else None,
                },
            ))
        return out

    def match_frame(
        self,
        query: str,
        conjunctive: bool = True,
        min_match: int | None = None,
        scored: bool = True,
        with_metadata: bool = False,
    ) -> DataFrame | None:
        """The full match set as a DataFrame — Solr's /export handler
        analog for pipeline composition: (doc_id, score) per matching
        doc (``scored=False`` ships score 1.0 like a filter query), plus
        the metadata map when ``with_metadata``. Nothing materializes on
        the driver — downstream consumers (dedup joins, training-data
        selection, bulk exports) compose Spark plans on top, which is
        the whole point at 100 TB: the match set never leaves the
        cluster. ``None`` when the query analyzes to nothing or the
        index is empty."""
        self._check_access("extractor_search")
        _require_query(query)
        _require_bool("conjunctive", conjunctive)
        _require_bool("scored", scored)
        _require_bool("with_metadata", with_metadata)
        per_doc = self._match_docs(query, conjunctive, min_match,
                                   scored=scored)
        if per_doc is None:
            return None
        if scored:
            out = per_doc.select("doc_id", "score")
        else:
            # constant-score filter semantics (Lucene ConstantScoreQuery):
            # the kernel only matched, its partial sums are not a score
            out = per_doc.select(
                "doc_id", F.lit(1.0).alias("score"))
        if with_metadata:
            ds = self._read_or_none("doc_stats")
            if ds is not None and "metadata" in ds.columns:
                out = out.join(
                    ds.select("doc_id", "metadata"), "doc_id", "left"
                )
        return out

    def significant_terms(
        self,
        query: str,
        k: int = 10,
        min_fg: int = 2,
        conjunctive: bool = True,
        min_match: int | None = None,
    ) -> list[tuple[str, int, int, float]]:
        """Terms statistically overrepresented in the docs matching
        ``query`` versus the whole corpus — Elasticsearch's
        significant_terms aggregation with its default JLH heuristic
        ``(fgPct - bgPct) * (fgPct / bgPct)`` where ``fgPct`` is the
        term's share of the ``n_matched`` foreground docs and ``bgPct``
        its share of the corpus. The training-data angle: surface what a
        filtered slice is *about* (near-dup cluster labels, topic drift,
        contamination probes) without shipping the slice anywhere.

        Foreground df is a tombstone-filtered distinct-doc count; the
        background df comes from segment ``n_postings`` metadata — like
        Lucene's pre-merge ``docFreq``, tombstoned docs count until
        compaction (the same pinned divergence as MLT/suggest). The
        background DENOMINATOR matches: live docs + tombstoned versions
        (Lucene ``maxDoc``, one row per killed version until compaction
        GC), so bgPct's numerator and denominator are both pre-merge —
        mixing live N with pre-merge df would deflate every term's
        significance after bulk deletes. Only positively significant
        terms (fgPct > bgPct) survive, ES parity.
        ``min_fg`` is ES ``min_doc_count`` (default 2: singletons are
        noise). Returns [(term, fg_df, bg_df, score)] by score desc,
        term asc.

        One distributed plan, k rows to the driver: the positions-free
        segment decode (:meth:`postings_frame`) as (term, doc_id) ->
        semi-join the match kernel's doc set -> per-term distinct count
        -> join the column-pruned segment-metadata background aggregate
        -> scored TakeOrdered. The foreground side decodes every segment
        row once (ES pays the same via shard term vectors and caps it
        with sampling — narrow the query to narrow the cost)."""
        self._check_access("extractor_search")
        _require_query(query)
        _require_k(k)
        _require_bool("conjunctive", conjunctive)
        if isinstance(min_fg, bool) or not isinstance(min_fg, int) \
                or min_fg < 1:
            raise ValidationError(
                f"min_fg must be a positive integer, got {min_fg!r}"
            )
        per_doc = self._match_docs(query, conjunctive, min_match)
        if per_doc is None:
            return []
        postings = self.postings_frame()
        if postings is None:
            return []
        n_matched = per_doc.count()
        if n_matched == 0:
            return []
        st = self.corpus_stats()
        # pre-merge maxDoc: live docs + killed versions (see docstring)
        n_docs = float(int(st["n_docs"]) + self._tombstone_count())
        fg = (
            postings.select("term", "doc_id")
            .join(per_doc.select("doc_id"), "doc_id", "left_semi")
            .groupBy("term")
            .agg(F.count_distinct("doc_id").alias("fg"))
        )
        if min_fg > 1:
            fg = fg.where(F.col("fg") >= min_fg)
        seg = self._segments_union()
        if seg is None:
            return []
        bg = (
            seg.select("term", "n_postings")
            .groupBy("term")
            .agg(F.sum("n_postings").alias("df"))
        )
        # a term present in live postings always has segment rows; the
        # coalesce only guards a (never-expected) metadata gap
        dfc = F.coalesce(F.col("df"), F.col("fg")).cast("double")
        fgp = F.col("fg").cast("double") / F.lit(float(n_matched))
        bgp = dfc / F.lit(n_docs)
        score = (fgp - bgp) * (fgp / bgp)
        rows = (
            fg.join(bg, "term", "left")
            .select(
                "term",
                "fg",
                dfc.cast("long").alias("bg"),
                score.alias("score"),
            )
            .where(F.col("score") > 0)
            .orderBy(F.desc("score"), F.asc("term"))
            .limit(k)
            .collect()
        )
        return [
            (r["term"], int(r["fg"]), int(r["bg"]), float(r["score"]))
            for r in rows
        ]

    TERMS_MAX_LIMIT = 10_000

    def terms(
        self,
        prefix: str | None = None,
        limit: int = 10,
        min_df: int = 1,
        regex: str | None = None,
        sort: str = "count",
    ) -> list[tuple[str, int]]:
        """Solr TermsComponent (``terms.prefix`` / ``terms.limit`` /
        ``terms.mincount`` / ``terms.regex`` / ``terms.sort``): index
        dictionary terms with their document frequency, ranked
        (df desc, term asc) — ``terms.sort=count`` — or term asc with
        ``sort="index"``. ``regex`` is a FULL-match pattern like Solr's
        (compiled per-row on the JVM cold / by ``re`` warm — stick to
        the Java∩Python∩RE2 common subset, a pinned portability note).
        df is the segment ``n_postings`` sum, i.e. Lucene's pre-merge
        ``TermsEnum.docFreq`` — tombstoned docs count until compaction
        (the same pinned divergence MLT/suggest carry; Solr's terms
        component reports exactly these uncorrected docFreqs too).

        Warm path: a driver pass over the preloaded store's terms and
        per-term df (the prefix as a binary-search range). Cold path:
        one column-pruned (term, n_postings) scan with the prefix pushed
        as StringStartsWith (the regex filters AFTER the pushed prefix —
        pair them to keep the scan pruned); only ``limit`` rows reach
        the driver."""
        self._check_access("extractor_search")
        if (
            isinstance(limit, bool) or not isinstance(limit, int)
            or not 1 <= limit <= self.TERMS_MAX_LIMIT
        ):
            raise ValidationError(
                f"limit must be 1..{self.TERMS_MAX_LIMIT}, got {limit!r}"
            )
        if (
            isinstance(min_df, bool) or not isinstance(min_df, int)
            or min_df < 1
        ):
            raise ValidationError(
                f"min_df must be a positive integer, got {min_df!r}"
            )
        if sort not in ("count", "index"):
            raise ValidationError(
                f"sort must be 'count' or 'index', got {sort!r}"
            )
        rx = None
        if regex is not None:
            if not isinstance(regex, str) or not regex:
                raise ValidationError(
                    f"regex must be a non-empty string, got {regex!r}"
                )
            try:
                rx = re.compile(regex)
            except re.error as e:
                raise ValidationError(f"bad regex {regex!r}: {e}") from e
        p = self._normalize_prefix(prefix) if prefix is not None else None

        def rank(pairs):
            key = (
                (lambda tc: tc[0]) if sort == "index"
                else (lambda tc: (-tc[1], tc[0]))
            )
            return sorted(pairs, key=key)[:limit]

        if self._store is not None:
            lo, hi = (
                (0, len(self._store.terms)) if p is None
                else self._store.prefix_range(p)
            )
            cand = zip(
                self._store.terms[lo:hi], self._store.df[lo:hi].tolist()
            )
            return rank(
                (t, n) for t, n in cand
                if n >= min_df and (rx is None or rx.fullmatch(t) is not None)
            )
        seg = self._segments_union()
        if seg is None:
            return []
        scan = seg.select("term", "n_postings")
        if p is not None:
            scan = scan.where(F.col("term").startswith(p))
        if rx is not None:
            scan = scan.where(
                F.col("term").rlike(f"^(?:{regex})$")
            )
        order = (
            [F.asc("term")] if sort == "index"
            else [F.desc("df"), F.asc("term")]
        )
        rows = (
            scan.groupBy("term")
            .agg(F.sum("n_postings").alias("df"))
            .where(F.col("df") >= min_df)
            .orderBy(*order)
            .limit(limit)
            .collect()
        )
        return [(r["term"], int(r["df"])) for r in rows]

    RANGE_FACET_MAX_BUCKETS = 10_000

    def range_facets(
        self,
        query: str,
        field: str,
        start: float,
        end: float,
        gap: float,
        conjunctive: bool = True,
        min_match: int | None = None,
    ) -> dict:
        """Solr range faceting (``facet.range`` with start/end/gap +
        the before/after other-counts): bucket counts of the matching
        docs' numeric ``field`` values. Buckets are [lo, lo+gap) from
        ``start`` up to ``end`` (include=lower, Solr default), ALL
        buckets reported including zero counts (facet.mincount=0);
        values below start / at-or-above end land in ``before`` /
        ``after``. Values that don't parse as numbers are ignored
        (Solr range facets target numeric fields; the reference's
        dynamic fields are strings, so try_cast is the bridge). A doc
        with multiple values for the field counts once per bucket it
        hits (Solr counts docs, not values).

        One distributed aggregate: match kernel ⋈ EAV -> bucket label
        -> countDistinct(doc) per label; at most n_buckets+2 rows reach
        the driver, with the bucket count validated against
        ``RANGE_FACET_MAX_BUCKETS`` up front."""
        self._check_access("extractor_search")
        _require_query(query)
        _require_bool("conjunctive", conjunctive)
        if not isinstance(field, str) or not field.strip():
            raise ValidationError(
                f"field must be a non-empty string, got {field!r}"
            )
        for name, v in (("start", start), ("end", end), ("gap", gap)):
            if isinstance(v, bool) or not isinstance(v, (int, float)):
                raise ValidationError(
                    f"{name} must be a number, got {v!r}"
                )
        if gap <= 0:
            raise ValidationError(f"gap must be positive, got {gap!r}")
        if start >= end:
            raise ValidationError(
                f"start must be below end, got [{start!r}, {end!r})"
            )
        import math

        n_buckets = int(math.ceil((end - start) / gap))
        if n_buckets > self.RANGE_FACET_MAX_BUCKETS:
            raise ValidationError(
                f"{n_buckets} buckets exceed RANGE_FACET_MAX_BUCKETS "
                f"({self.RANGE_FACET_MAX_BUCKETS}); widen gap"
            )
        lows = [start + i * gap for i in range(n_buckets)]
        out = {"buckets": [(lo, 0) for lo in lows], "before": 0,
               "after": 0}
        mm = self._match_and_meta(query, conjunctive, min_match)
        if mm is None:
            return out
        per_doc, dm = mm
        v = F.col("value").try_cast("double")
        lbl = (
            F.when(v < float(start), F.lit(-1))
            .when(v >= float(end), F.lit(n_buckets))
            .otherwise(
                F.floor((v - float(start)) / float(gap)).cast("int")
            )
        )
        rows = (
            dm.where(F.col("field") == field)
            .join(per_doc.select("doc_id"), "doc_id", "left_semi")
            .where(v.isNotNull())
            .select("doc_id", lbl.alias("_b"))
            .groupBy("_b")
            .agg(F.count_distinct("doc_id").alias("cnt"))
            .collect()
        )
        counts = {int(r["_b"]): int(r["cnt"]) for r in rows}
        out["before"] = counts.get(-1, 0)
        out["after"] = counts.get(n_buckets, 0)
        out["buckets"] = [
            (lo, counts.get(i, 0)) for i, lo in enumerate(lows)
        ]
        return out

    def interval_facets(
        self,
        query: str,
        field: str,
        intervals: list[str],
        conjunctive: bool = True,
        min_match: int | None = None,
    ) -> list[tuple[str, int]]:
        """Solr interval faceting (``facet.interval.set``): per-interval
        doc counts of the matching docs' numeric ``field`` values, with
        intervals in Solr's own syntax — ``[a,b]`` inclusive, ``(a,b)``
        exclusive, ``*`` unbounded, mixed brackets allowed. Unlike range
        facets, intervals are arbitrary and MAY overlap (Solr counts a
        doc in every interval it hits); a multi-valued doc counts once
        per interval. Non-numeric values are ignored (try_cast bridge,
        same as range facets). Returns [(interval_as_given, count)] in
        the given order.

        One distributed aggregate: match kernel ⋈ EAV -> per-interval
        CASE flags -> one SUM aggregate over countDistinct per label —
        len(intervals) rows reach the driver."""
        self._check_access("extractor_search")
        _require_query(query)
        _require_bool("conjunctive", conjunctive)
        if not isinstance(field, str) or not field.strip():
            raise ValidationError(
                f"field must be a non-empty string, got {field!r}"
            )
        if (
            not isinstance(intervals, (list, tuple)) or not intervals
            or not all(isinstance(s, str) for s in intervals)
        ):
            raise ValidationError(
                "intervals must be a non-empty list of Solr interval "
                f"strings like '[0,100)', got {intervals!r}"
            )
        if len(intervals) > self.RANGE_FACET_MAX_BUCKETS:
            raise ValidationError(
                f"{len(intervals)} intervals exceed "
                f"RANGE_FACET_MAX_BUCKETS "
                f"({self.RANGE_FACET_MAX_BUCKETS})"
            )
        parsed = []
        pat = re.compile(
            r"^([\[\(])\s*(\*|-?\d+(?:\.\d+)?)\s*,"
            r"\s*(\*|-?\d+(?:\.\d+)?)\s*([\]\)])$"
        )
        for s in intervals:
            m = pat.match(s.strip())
            if not m:
                raise ValidationError(
                    f"bad interval syntax {s!r}; expected e.g. "
                    "'[0,100)', '(5,*]'"
                )
            lo = None if m.group(2) == "*" else float(m.group(2))
            hi = None if m.group(3) == "*" else float(m.group(3))
            parsed.append((s, lo, m.group(1) == "[", hi,
                           m.group(4) == "]"))
        mm = self._match_and_meta(query, conjunctive, min_match)
        if mm is None:
            return [(s, 0) for s in intervals]
        per_doc, dm = mm
        v = F.col("value").try_cast("double")
        base = (
            dm.where(F.col("field") == field)
            .join(per_doc.select("doc_id"), "doc_id", "left_semi")
            .where(v.isNotNull())
            .select("doc_id", v.alias("_v"))
            # a multi-valued doc counts once per interval: distinct
            # (doc, value) pairs then per-interval ANY via max(flag)
            .groupBy("doc_id")
            .agg(F.collect_set("_v").alias("_vs"))
        )
        def _mk_pred(lo, lo_inc, hi, hi_inc):
            # F.exists requires an arity-1 lambda; close over the bounds
            def _pred(x):
                cond = F.lit(True)
                if lo is not None:
                    cond = cond & (
                        (x >= F.lit(lo)) if lo_inc else (x > F.lit(lo))
                    )
                if hi is not None:
                    cond = cond & (
                        (x <= F.lit(hi)) if hi_inc else (x < F.lit(hi))
                    )
                return cond

            return _pred

        aggs = []
        for i, (_, lo, lo_inc, hi, hi_inc) in enumerate(parsed):
            _pred = _mk_pred(lo, lo_inc, hi, hi_inc)
            aggs.append(
                F.sum(
                    F.when(
                        F.exists(F.col("_vs"), _pred), F.lit(1)
                    ).otherwise(F.lit(0))
                ).alias(f"_i{i}")
            )
        row = base.agg(*aggs).collect()[0]
        return [
            (s, int(row[f"_i{i}"] or 0))
            for i, (s, *_rest) in enumerate(parsed)
        ]

    def query_facets(
        self,
        query: str,
        facet_queries: dict[str, str],
        conjunctive: bool = True,
        min_match: int | None = None,
    ) -> dict[str, int]:
        """Solr ``facet.query``: for each labelled sub-query, the count
        of docs matching the MAIN query AND that sub-query. Sub-queries
        go through the same analyzer and match conjunctively (the
        engine's default operator, like Solr q.op=AND deployments).

        Fully distributed: every sub-query's k=None match set is
        labelled and unioned into ONE plan, semi-joined against the
        main match set, and counted per label — one Spark job for all
        labels, ≤ len(facet_queries) rows on the driver."""
        self._check_access("extractor_search")
        _require_query(query)
        _require_bool("conjunctive", conjunctive)
        if not isinstance(facet_queries, dict) or not facet_queries or not (
            all(isinstance(k, str) and k.strip()
                and isinstance(q, str) and q.strip()
                for k, q in facet_queries.items())
        ):
            raise ValidationError(
                "facet_queries must be a non-empty dict of "
                f"label -> query strings, got {facet_queries!r}"
            )
        out = {label: 0 for label in facet_queries}
        main = self._match_docs(query, conjunctive, min_match)
        if main is None:
            return out
        labelled = None
        for label, subq in facet_queries.items():
            sub = self._match_docs(subq, True, None)
            if sub is None:
                continue
            part = sub.select("doc_id").withColumn("_lbl", F.lit(label))
            labelled = part if labelled is None \
                else labelled.unionByName(part)
        if labelled is None:
            return out
        rows = (
            labelled.join(main.select("doc_id"), "doc_id", "left_semi")
            .groupBy("_lbl")
            .agg(F.count_distinct("doc_id").alias("cnt"))
            .collect()
        )
        for r in rows:
            out[r["_lbl"]] = int(r["cnt"])
        return out

    def suggest(
        self,
        query: str,
        max_suggestions: int = 5,
        max_edits: int = 2,
    ) -> dict[str, list[tuple[str, int]]]:
        """Spellcheck — Solr's spellcheck component over the index's own
        dictionary (IndexBasedSpellChecker). For each analyzed query
        term that is NOT in the index, candidate corrections within
        ``max_edits`` (the FuzzyQuery expansion machinery) ranked by
        (edit distance asc, df desc, term asc) — Solr's default
        score-then-frequency comparator. Indexed terms suggest nothing.
        Returns ``{term: [(suggestion, df), ...]}``.

        df comes from segment n_postings metadata (no blob decode);
        candidates are dictionary-bounded by the fuzzy expansion cap, so
        nothing here scales with the corpus' doc count."""
        self._check_access("extractor_search")
        _require_query(query)
        if (
            isinstance(max_suggestions, bool)
            or not isinstance(max_suggestions, int)
            or max_suggestions < 1
        ):
            raise ValidationError(
                "max_suggestions must be a positive integer, "
                f"got {max_suggestions!r}"
            )
        terms = list(
            dict.fromkeys(
                analyze_query(query, config=query_config_for(self.analyzer))
            )
        )
        out: dict[str, list[tuple[str, int]]] = {}
        # ONE dictionary scan expands all terms at once (cold mode is a
        # Spark job; see _expand_fuzzy_batch)
        cands_by_term = self._expand_fuzzy_batch(
            terms, max_edits, self.PREFIX_MAX_EXPANSIONS
        )
        # ONE df lookup for the union of all terms' candidates — cold
        # mode is a Spark job, so a multi-term query must not fan out
        # one job per term
        need = sorted(
            {c for t, cs in cands_by_term.items() if t not in cs
             for c in cs}
        )
        dfm = self._df_for_terms(need)
        for t in terms:
            cands = cands_by_term[t]
            if t in cands:  # distance 0: the term is indexed
                out[t] = []
                continue

            def dist(c: str, _t: str = t) -> int:
                for e in range(1, max_edits + 1):
                    if _edit_distance_leq(_t, c, e):
                        return e
                return max_edits  # unreachable: cands are <= max_edits

            ranked = sorted(
                ((dist(c), -dfm.get(c, 0), c) for c in cands),
            )[:max_suggestions]
            out[t] = [(c, -negdf) for _, negdf, c in ranked]
        return out

    def collate(self, query: str, max_edits: int = 2) -> str:
        """Solr ``spellcheck.collate``: the query with every unindexed
        term replaced by its top suggestion; indexed terms and terms
        with no candidate stay verbatim. Term order is the analyzer's
        (duplicates collapse, like :meth:`suggest`)."""
        sugg = self.suggest(query, max_suggestions=1, max_edits=max_edits)
        terms = list(
            dict.fromkeys(
                analyze_query(query, config=query_config_for(self.analyzer))
            )
        )
        return " ".join(
            sugg[t][0][0] if sugg.get(t) else t for t in terms
        )

    def grouped_search(
        self,
        query: str,
        group_field: str,
        k: int = 10,
        group_limit: int = 1,
        conjunctive: bool = True,
        min_match: int | None = None,
    ) -> list[tuple[str, float, int, list[tuple[int, float]]]]:
        """Result grouping / field collapse (Solr ``group.field`` /
        collapse parser — one result row per distinct metadata value):
        the top ``k`` groups of matching docs by ``group_field`` value,
        groups ranked by their best doc's BM25 score (Solr's default
        group sort), ties value asc; each group carries its matching-doc
        count and its top ``group_limit`` docs (score desc, doc_id asc).
        Docs without the field are dropped (the null-group-excluded
        form). Returns [(value, best_score, n_matching, [(doc_id,
        score), ...])].

        Distributed shape: the k=None match kernel (scores included) ⋈
        metadata EAV rows on doc_id; the group ranking is one hash
        aggregate + TakeOrdered over DISTINCT VALUES (not docs); the
        per-group doc window prunes to ``group_limit`` rows per value
        before anything reaches the driver — materialization is bounded
        by k * group_limit + k, never by the match count."""
        self._check_access("extractor_search")
        _require_query(query)
        _require_k(k)
        _require_bool("conjunctive", conjunctive)
        if not isinstance(group_field, str) or not group_field.strip():
            raise ValidationError(
                f"group_field must be a non-empty string, got {group_field!r}"
            )
        if (
            isinstance(group_limit, bool)
            or not isinstance(group_limit, int)
            or group_limit < 1
        ):
            raise ValidationError(
                f"group_limit must be a positive integer, got {group_limit!r}"
            )
        mm = self._match_and_meta(query, conjunctive, min_match,
                                  scored=True)
        if mm is None:
            return []
        per_doc, dm = mm
        j = per_doc.select("doc_id", "score").join(
            dm.where(F.col("field") == group_field)
            .select("doc_id", "value"),
            "doc_id",
        )
        # two passes read the scored match set (group ranking, then the
        # per-group doc window) — persist so the decode kernel runs once
        j = j.persist()
        try:
            groups = (
                j.groupBy("value")
                .agg(F.max("score").alias("best"), F.count("*").alias("n"))
                .orderBy(F.desc("best"), F.asc("value"))
                .limit(k)
                .collect()
            )
            if not groups:
                return []
            from pyspark.sql.window import Window

            keep = [r["value"] for r in groups]
            w = Window.partitionBy("value").orderBy(
                F.desc("score"), F.asc("doc_id")
            )
            rows = (
                j.where(F.col("value").isin(keep))
                .withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") <= group_limit)
                .collect()
            )
        finally:
            j.unpersist()
        by_val: dict[str, list[tuple[int, float]]] = {}
        for r in sorted(rows, key=lambda r: (r["value"], r["_rn"])):
            by_val.setdefault(r["value"], []).append(
                (int(r["doc_id"]), float(r["score"]))
            )
        return [
            (r["value"], float(r["best"]), int(r["n"]),
             by_val.get(r["value"], []))
            for r in groups
        ]

    def collapse_search(
        self,
        query: str,
        collapse_field: str,
        k: int = 10,
        conjunctive: bool = True,
        min_match: int | None = None,
        expand: int = 0,
    ) -> list[tuple[int, float, str, list[tuple[int, float]]]]:
        """Field collapsing — Solr ``{!collapse field=f}`` (+ the expand
        component): the result list keeps ONE doc per distinct
        ``collapse_field`` value — the group's highest-scoring doc
        (ties doc_id asc) — and ranks those heads like a normal search
        (score desc, doc_id asc), truncated to ``k``. Unlike
        :meth:`grouped_search` (group-centric: top groups by best
        score), collapse is DOC-centric: the rest of the result pipeline
        (paging, ranking) sees a plain doc list. Docs without the field
        are dropped (Solr nullPolicy=ignore, the default). ``expand > 0``
        attaches, per head, the next ``expand`` docs of its group
        (score desc, doc_id asc, head excluded) — Solr's
        ``expand=true&expand.rows=n``. Returns
        [(doc_id, score, value, [(doc_id, score), ...])].

        Distributed shape: scored match kernel ⋈ EAV rows, one window
        row_number per value (rank-in-group), heads through a
        TakeOrdered k; the expansion re-reads the persisted join pruned
        to the k winning values — driver materialization is bounded by
        k * (1 + expand), never the match count."""
        self._check_access("extractor_search")
        _require_query(query)
        _require_k(k)
        _require_bool("conjunctive", conjunctive)
        if not isinstance(collapse_field, str) or not collapse_field.strip():
            raise ValidationError(
                f"collapse_field must be a non-empty string, "
                f"got {collapse_field!r}"
            )
        if isinstance(expand, bool) or not isinstance(expand, int) \
                or expand < 0:
            raise ValidationError(
                f"expand must be a non-negative integer, got {expand!r}"
            )
        mm = self._match_and_meta(query, conjunctive, min_match,
                                  scored=True)
        if mm is None:
            return []
        per_doc, dm = mm
        from pyspark.sql.window import Window

        # clamp: TakeOrdered sizes its per-partition heap by the LIMIT
        # literal (the r2 all-matches-phrase OOM class)
        k = min(k, int(self.corpus_stats()["n_docs"]))
        if k <= 0:
            return []
        j = per_doc.select("doc_id", "score").join(
            dm.where(F.col("field") == collapse_field)
            .select("doc_id", "value"),
            "doc_id",
        )
        w = Window.partitionBy("value").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        ranked = j.withColumn("_rn", F.row_number().over(w))
        if expand:
            # heads AND expansions read the ranked join — persist so the
            # decode kernel + window run once
            ranked = ranked.persist()
        try:
            heads = (
                ranked.where(F.col("_rn") == 1)
                .orderBy(F.desc("score"), F.asc("doc_id"))
                .limit(k)
                .collect()
            )
            exp_by_val: dict[str, list[tuple[int, float]]] = {}
            if expand and heads:
                keep = [r["value"] for r in heads]
                rows = (
                    ranked.where(
                        F.col("value").isin(keep)
                        & (F.col("_rn") > 1)
                        & (F.col("_rn") <= 1 + expand)
                    )
                    .collect()
                )
                for r in sorted(rows, key=lambda r: (r["value"], r["_rn"])):
                    exp_by_val.setdefault(r["value"], []).append(
                        (int(r["doc_id"]), float(r["score"]))
                    )
        finally:
            if expand:
                ranked.unpersist()
        return [
            (int(r["doc_id"]), float(r["score"]), r["value"],
             exp_by_val.get(r["value"], []))
            for r in heads
        ]

    def phrase_search(
        self, query: str, k: int = 10, distributed: bool = False,
        slop: int = 0, slop_mode: str = "pergap",
    ) -> list[tuple[int, float]]:
        """Top-k docs containing the analyzed query as an ordered phrase
        (positions-aware AND; see operators/phrase.py).

        ``slop``: proximity window. Default ``slop_mode="pergap"``:
        ordered, up to ``slop`` non-query tokens between each adjacent
        pair of query terms (0 = strict consecutive phrase;
        NEAR/n-ordered semantics, deliberately simpler than Lucene and
        SQL-expressible for the oracle gate). ``slop_mode="lucene"``:
        Lucene's total-MOVE sloppy phrase (SloppyPhraseScorer — span of
        offset-adjusted positions <= slop), which permits reordering:
        ``"b a"~2`` matches text ``a b``. Lucene mode rejects repeated
        phrase terms (pinned limitation). Matching docs score the same
        conjunctive BM25 either way — slop changes the MATCH SET, never
        the scores.

        ``distributed=True`` runs the cluster-scale plan (bucket-pruned
        segment scan -> decode kernel -> one doc_id exchange -> vectorized
        verify -> global top-k) instead of collecting posting lists to the
        driver — same ranks (pinned by test), for indexes whose query-term
        lists exceed driver memory."""
        from ckanext_extractor_spark.operators.phrase import (
            phrase_search,
            phrase_search_distributed,
        )

        self._check_access("extractor_phrase_search")
        _require_query(query)
        _require_k(k)
        _require_slop(slop)
        if slop_mode not in ("pergap", "lucene"):
            raise ValidationError(
                f"slop_mode must be 'pergap' or 'lucene', got {slop_mode!r}"
            )
        if distributed:
            return phrase_search_distributed(self, query, k, slop=slop,
                                             slop_mode=slop_mode)
        return phrase_search(self, query, k, slop=slop, slop_mode=slop_mode)

    def span_first_search(
        self, term: str, end: int, k: int = 10
    ) -> list[tuple[int, float]]:
        """Lucene SpanFirstQuery: top-k docs whose first occurrence of
        the (single-term) analyzed query sits at an analyzer position
        < ``end`` — "matches near the start of the document" (title-ish
        boosting without stored fields). Matching docs keep their
        normal single-term BM25 score; the position constraint changes
        the MATCH SET, never the scores (same contract as phrase slop).

        The query must analyze to exactly one term (SpanTermQuery
        inside SpanFirst; multi-term spans are out of scope, rejected
        loudly). Positions are index-time analyzer positions: 0-based,
        stopword removal leaves gaps, catenated identifier tokens
        stack at posInc=0."""
        from ckanext_extractor_spark.operators.phrase import (
            span_first_filter_docs,
        )

        self._check_access("extractor_search")
        _require_query(term)
        _require_k(k)
        if not isinstance(end, int) or isinstance(end, bool) or end < 1:
            raise ValidationError(
                f"end must be a positive int, got {end!r}"
            )
        if not self.with_positions:
            raise ValueError(
                "index was built without positions; span_first_search "
                "needs with_positions=True"
            )
        terms = analyze_query(
            term, config=query_config_for(self.analyzer)
        )
        if not terms:
            return []
        uniq = list(dict.fromkeys(terms))
        if len(uniq) != 1:
            raise ValidationError(
                "span_first_search takes a single-term query; got "
                f"{uniq!r} (build a SpanNear composition instead)"
            )
        st = self.corpus_stats()
        tls = self._term_postings(uniq, st)
        if not tls:
            return []
        rows_by_term = {uniq[0]: self._segment_rows(uniq[0])}
        return _filtered_topk(
            tls, st["avgdl"], k,
            lambda docs: span_first_filter_docs(
                docs, rows_by_term, uniq[0], end
            ),
        )

    def span_near_search(
        self, query: str, slop: int = 0, k: int = 10,
        in_order: bool = True,
    ) -> list[tuple[int, float]]:
        """Lucene SpanNearQuery(slop=n, in_order=): top-k docs where the
        analyzed query terms fit a TOTAL gap budget. ``in_order=True``
        (default): one position per term, strictly increasing in term
        order, (last - first) - (n_terms - 1) <= ``slop`` — the third
        proximity semantics beside ``phrase_search``'s per-gap NEAR/n
        (each gap bounded by slop) and ``slop_mode="lucene"``'s
        total-move sloppy phrase (reordering allowed): ordered like
        per-gap, budgeted like sloppy. ``slop=0`` equals the strict
        phrase. ``in_order=False``: the minimal window CONTAINING one
        position per term in ANY order satisfies the same budget —
        note this measures the raw window, unlike the sloppy phrase's
        offset-adjusted span (a reversal is FREE here but costs moves
        there); repeated query terms are rejected in unordered mode
        (pinned, like the sloppy-phrase mode).

        Matching docs keep the conjunctive-AND BM25 score — the span
        constraint changes the MATCH SET, never the scores (the same
        pinned contract as phrase slop and SpanFirst). Positions are
        the index-time analyzer positions (0-based, stopword gaps
        count, catenated identifier tokens stack at posInc=0)."""
        from ckanext_extractor_spark.operators.phrase import (
            span_near_filter_docs,
        )

        self._check_access("extractor_search")
        _require_query(query)
        _require_k(k)
        _require_slop(slop)
        if not self.with_positions:
            raise ValueError(
                "index was built without positions; span_near_search "
                "needs with_positions=True"
            )
        _require_bool("in_order", in_order)
        terms = analyze_query(
            query, config=query_config_for(self.analyzer)
        )
        if not terms:
            return []
        uniq = list(dict.fromkeys(terms))
        if not in_order and len(uniq) < len(terms):
            raise ValidationError(
                "span_near_search(in_order=False) does not support "
                "repeated query terms (distinct-position repeat "
                "machinery pinned out of scope); use in_order=True"
            )
        st = self.corpus_stats()
        tls = self._term_postings(uniq, st)
        if len(tls) < len(uniq):
            return []  # some term absent: the span can't exist
        rows_by_term = {t: self._segment_rows(t) for t in uniq}
        return _filtered_topk(
            tls, st["avgdl"], k,
            lambda docs: span_near_filter_docs(
                docs, rows_by_term, terms, slop, in_order=in_order,
            ),
        )

    def span_not_search(
        self, query: str, exclude: str, slop: int = 0, k: int = 10,
        pre: int = 0, post: int = 0,
    ) -> list[tuple[int, float]]:
        """Lucene SpanNotQuery: top-k docs holding an ordered include
        span for the analyzed ``query`` (one position per term,
        strictly increasing, total gap budget <= ``slop`` — the
        SpanNear(in_order=true) semantics) with NO occurrence of the
        single-term ``exclude`` inside the dilated window
        [first - pre, last + post] — "this phrase, but not when
        ``exclude`` is on/near it" ('new york' NOT 'city';
        'java' NOT within 2 of 'script'). pre/post default 0 = plain
        overlap.

        Matching docs keep the conjunctive-AND BM25 score of the
        INCLUDE terms only (the exclude term is a span filter, never a
        scoring clause — same pinned contract as phrase slop /
        SpanFirst / SpanNear: span constraints change the MATCH SET,
        not the scores). ``exclude`` must analyze to exactly one term
        (SpanTerm exclude; wider exclude spans out of scope, rejected
        loudly). A doc without the exclude term at all matches iff the
        include span exists — span_not(q, e) over such docs ≡
        span_near(q). Positions are index-time analyzer positions
        (0-based, stopword gaps, posInc=0 stacking)."""
        from ckanext_extractor_spark.operators.phrase import (
            span_not_filter_docs,
        )

        self._check_access("extractor_search")
        _require_query(query)
        _require_query(exclude)
        _require_k(k)
        _require_slop(slop)
        for name, v in (("pre", pre), ("post", post)):
            if not isinstance(v, int) or isinstance(v, bool) or v < 0:
                raise ValidationError(
                    f"{name} must be a non-negative int, got {v!r}"
                )
        if not self.with_positions:
            raise ValueError(
                "index was built without positions; span_not_search "
                "needs with_positions=True"
            )
        cfg = query_config_for(self.analyzer)
        terms = analyze_query(query, config=cfg)
        if not terms:
            return []
        ex_terms = list(dict.fromkeys(analyze_query(exclude, config=cfg)))
        if len(ex_terms) != 1:
            raise ValidationError(
                "span_not_search exclude must analyze to a single term; "
                f"got {ex_terms!r}"
            )
        ex = ex_terms[0]
        uniq = list(dict.fromkeys(terms))
        st = self.corpus_stats()
        tls = self._term_postings(uniq, st)
        if len(tls) < len(uniq):
            return []  # some include term absent: no include span
        rows_by_term = {t: self._segment_rows(t) for t in uniq}
        if ex not in rows_by_term:  # setdefault would fetch eagerly
            rows_by_term[ex] = self._segment_rows(ex)
        return _filtered_topk(
            tls, st["avgdl"], k,
            lambda docs: span_not_filter_docs(
                docs, rows_by_term, terms, ex, slop, pre, post,
            ),
        )

    def _gc_staging(self) -> None:
        """Drop every tokenize checkpoint once a generation commits, and
        the per-generation postings tables of an index written while it
        kept two copies of the postings."""
        st_root = self._p("staging", "raw_postings")
        if self.fs.isdir(st_root):
            self.fs.rmtree(st_root)
        for g in self._gens:
            old = self._p("gens", g["gen"], "postings")
            if self.fs.exists(old):
                self.fs.rmtree(old)

    def _gc_orphan_gens(self) -> None:
        """Drop gens/ dirs not in the committed generation list (crashed
        builds/compactions that staged data but never committed meta),
        and the ``<table>.tmp-*`` dirs of a build that failed before its
        deferred publish."""
        for d in self.fs.listdir(self.root):
            if ".tmp-" in d:
                self.fs.rmtree(self._p(d))
        groot = self._p("gens")
        if not self.fs.isdir(groot):
            return
        live = {g["gen"] for g in self._gens}
        for d in self.fs.listdir(groot):
            if d not in live:
                self.fs.rmtree(os.path.join(groot, d))

    def _term_postings(self, terms: list[str], st: dict) -> list:
        """TermPostings for `terms` — decoded-LRU, else decoded from
        :meth:`_rows_by_term`. Dead postings are dropped at decode."""
        from ckanext_extractor_spark.operators.wand import (
            term_postings_from_rows,
        )

        out = []
        missing = []
        for t in terms:
            tp = self._decoded_cache.get(t)
            if tp is not None:
                self._decoded_cache.move_to_end(t)
                out.append(tp)
            else:
                missing.append(t)
        if not missing:
            return out
        rows_by_term = self._rows_by_term(missing)
        for t in missing:
            rows = rows_by_term[t]
            if not rows:
                continue
            tp = term_postings_from_rows(t, rows, st["n_docs"], st["avgdl"])
            self._lru_put(t, tp)
            out.append(tp)
        return out

    def _lazy_term_postings(self, terms: list[str], st: dict):
        """LazyTermPostings per term from :meth:`_rows_by_term` —
        metadata-only until the scorer decodes blocks on demand. Only
        valid while no generation has a dead ordinal (caller checks)."""
        from ckanext_extractor_spark.operators.wand import LazyTermPostings

        rows_by_term = self._rows_by_term(terms)
        return [
            LazyTermPostings(t, rows_by_term[t], st["n_docs"], st["avgdl"])
            for t in terms
            if rows_by_term[t]
        ]

    @staticmethod
    def _raw_rows_bytes(rows: list) -> int:
        # blob + block metadata (last_doc 8B, max_tfn 8B, offs 2x8B) + slop
        return sum(
            len(r["blob"]) + 32 * len(r["block_last_doc"]) + 256 for r in rows
        )

    def _raw_put(self, term: str, rows: list) -> None:
        """Insert raw segment rows into the lazy-serving cache with byte
        accounting + LRU eviction (mirror of _lru_put for decoded lists;
        the preloaded store is bounded before it is loaded)."""
        size = self._raw_rows_bytes(rows)
        old = self._rows_cache.pop(term, None)
        if old is not None:
            self._raw_bytes -= self._raw_rows_bytes(old)
        self._rows_cache[term] = rows
        self._rows_cache.move_to_end(term)
        self._raw_bytes += size
        while self._raw_bytes > self._raw_budget and len(self._rows_cache) > 1:
            _, evicted = self._rows_cache.popitem(last=False)
            self._raw_bytes -= self._raw_rows_bytes(evicted)

    @staticmethod
    def _decoded_bytes_of(tp) -> int:
        # the arrays, 8 B per posting for the BM25 impacts memo, slop
        return (
            tp.doc_ids.nbytes + tp.tfs.nbytes + tp.doc_lens.nbytes
            + tp.block_last_doc.nbytes + tp.block_max_tfn.nbytes
            + 8 * tp.doc_ids.size + 128
        )

    def _lru_put(self, term: str, tp) -> None:
        self._decoded_cache[term] = tp
        self._decoded_bytes += self._decoded_bytes_of(tp)
        self._decoded_cache.move_to_end(term)
        while self._decoded_bytes > self._decoded_budget and len(
            self._decoded_cache
        ) > 1:
            _, old = self._decoded_cache.popitem(last=False)
            self._decoded_bytes -= self._decoded_bytes_of(old)


def _collect_gen_docs(df: DataFrame) -> GenDocs:
    rows = df.select("doc_id", "doc_len").collect()
    return GenDocs.of(
        [r["doc_id"] for r in rows], [r["doc_len"] for r in rows]
    )


def read_parquet_if(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


@contextmanager
def _build_stage(spark, build_id: str, name: str, stage_sec: dict):
    """Label the stage's Spark jobs ``build <id>: <stage>`` in the status
    store and time it on the monotonic clock into ``stage_sec[name]``."""
    sc = spark.sparkContext
    sc.setJobDescription(f"build {build_id}: {name}")
    t = time.perf_counter()
    try:
        yield
    finally:
        stage_sec[name] = time.perf_counter() - t
        sc.setJobDescription(None)


def _atomic_overwrite_staged(
    df: DataFrame,
    path: str,
    spark: SparkSession,
    write: Callable[[DataFrame, str], None] = write_table,
):
    """Write ``df`` to a temp dir NOW; return a callable that atomically
    swaps it into place. Splitting write from publish lets the build's
    overlapped stage group (guide §2.6) run the heavy write concurrently
    with sibling jobs whose lazy plans still read the OLD table, and
    perform the (millisecond) swap only after every sibling has joined —
    publish order stays exactly the sequential build's. The callable's
    ``staged_path`` names the temp dir, which a table derived from this
    one reads before the swap. ``write`` (default
    :func:`~ckanext_extractor_spark.fsio.write_table`) writes the temp
    dir."""
    fs = FsIO(spark, path)
    tmp = path + ".tmp-" + uuid.uuid4().hex[:8]
    write(df, tmp)

    def publish() -> None:
        old = path + ".old-" + uuid.uuid4().hex[:8]
        fs.makedirs(os.path.dirname(path))
        if fs.exists(path):
            fs.rename(path, old)
        fs.rename(tmp, path)
        if fs.exists(old):
            fs.rmtree(old)

    publish.staged_path = tmp
    return publish


def _atomic_overwrite(
    df: DataFrame,
    path: str,
    spark: SparkSession,
    write: Callable[[DataFrame, str], None] = write_table,
) -> None:
    """Write to a temp dir, then atomically swap into place (hard part #3:
    exactly-once publish — readers never observe a half-written table).
    Rename-based through fsio (POSIX/HDFS atomic; see the module
    docstring's filesystem note for object stores)."""
    _atomic_overwrite_staged(df, path, spark, write=write)()
