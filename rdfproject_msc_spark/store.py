"""TripleStore: physical layouts as a first-class tuning knob.

The reference's four drivers are four hard-coded (layout × cluster-key)
experiments:

    single table, range-clustered by Subject    PartitionQueryingSubject.java:100
    single table, range-clustered by Predicate  PartitionQueryingPredicate.java:100
    sign-split,  Positive sorted by Subject     PartitionQueryingBRDSubject.java:100-146
    sign-split,  Positive sorted by Predicate   PartitionQueryingBRDPredicate.java:100-146

Here they are one parameterized class. The Spark-first re-expression:

- range clustering = ``repartitionByRange(n, key).sortWithinPartitions(key)``;
  persisted as Parquet this yields min/max row-group stats → scan skipping for
  key lookups, which is what the reference's sortByKey was buying.
- sign split = a ``sign`` partition column (Parquet ``partitionBy``), so
  Catalyst partition pruning replaces the translator's hand-routed
  Positive/Negative SQL (MyOpVisitorBase.java:82-86). In-memory, the split
  views are plain filters — Catalyst pushes them into the scan.
- the Negative side is typically small (reference broadcasts it —
  intent at PartitionQueryingBRDSubject.java:133, though broadcasting an RDD
  handle was a no-op); we expose a broadcast hint on the negative view.

At 100 TB: the store is written once as sign-partitioned, range-clustered
Parquet; every query then gets partition pruning + row-group skipping free,
and predicate-key skew (few distinct predicates → giant partitions) is
handled by AQE skew-join splitting rather than a fixed partition count.

Updates (sparql/update.py) never rewrite the base relation. A store keeps
the relation it was opened or ingested with as its *base*, plus at most
one materialized delta per relation: ``added`` (visible rows the base
lacks) and ``removed`` (base rows that were deleted), each key at most
once. The views compose ``base ▷ removed ∪ added``, so the plan has the
same leaves after one update or a hundred, and the base keeps its ``sign``
partition pruning. A small delta is held on the driver: ``removed``
applies as a hash-set filter that ships with the tasks and ``added`` is a
local relation, so a read pays no extra join or broadcast. A large one is
a checkpoint joined as a (broadcast when small enough) anti-join. A store
with no pending delta plans exactly like the base alone.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

LAYOUTS = ("single", "sign_split")
CLUSTER_KEYS = ("s", "p", None)

TRIPLE_KEYS = ("s", "p", "o")
QUAD_KEYS = ("g", "s", "p", "o")

# a folded delta up to this many rows is held on the driver (reads apply
# it as a filter and a local relation; nothing to release); a larger one
# is a localCheckpoint, released explicitly once an update supersedes it
LOCAL_DELTA_ROWS = 4096


def local_relation(spark: SparkSession, rows, columns) -> DataFrame:
    """Driver rows (ints, booleans, strings; no NULLs) as a local
    relation: exact statistics, so joins broadcast it statically, and
    projections or filters over it evaluate on the driver
    (``createDataFrame`` gives an RDD scan of unknown size instead).
    Strings travel hex-encoded, so any text is safe in the VALUES
    clause."""

    def lit(v):
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, int):
            return f"{v}L"
        return f"CAST(X'{v.encode('utf-8').hex()}' AS STRING)"

    values = ", ".join(
        "(" + ", ".join(lit(v) for v in row) + ")" for row in rows
    )
    return spark.sql(
        f"SELECT * FROM VALUES {values} AS t({', '.join(columns)})"
    )


def _in_rows(keys, rows) -> Column:
    """``keys`` ∈ ``rows`` as a filter (never NULL): a hash-set probe that
    ships with the tasks — no join, no broadcast exchange, and no hash
    relation kept on the driver until the JVM collects it. The IN on the
    first key alone is a cheap prefilter."""
    firsts = ", ".join(sorted({f"{r[0]}L" for r in rows}))
    tuples = ", ".join(
        "(" + ", ".join(f"{v}L" for v in r) + ")" for r in rows
    )
    return F.coalesce(
        F.expr(
            f"{keys[0]} IN ({firsts}) AND ({', '.join(keys)}) IN ({tuples})"
        ),
        F.lit(False),
    )


# change-flag bits of one key in ``_fold`` (bit_or-aggregated per key)
_REMOVED, _ADDED, _DELETE, _INSERT, _IN_BASE = 1, 2, 4, 8, 16


class Delta:
    """Pending changes to one base relation: ``added`` rows the base
    lacks and ``removed`` base rows, each key once. A small delta is held
    on the driver as ``rows`` (key tuple → True added / False removed); a
    larger one is ``rel``, a ``localCheckpoint`` of ``keys + __added``
    rows."""

    def __init__(self, spark, keys, rows: dict | None = None, rel=None):
        self.spark = spark
        self.keys = list(keys)
        self.rows = rows
        self.rel = rel
        if rows is not None:
            added = [k for k, a in rows.items() if a]
            removed = [k for k, a in rows.items() if not a]
            self._added = (
                local_relation(spark, added, self.keys) if added else None
            )
            self._removed = _in_rows(self.keys, removed) if removed else None
            return
        counts = dict(rel.groupBy("__added").count().collect())
        self._added = (
            rel.filter(F.col("__added")).select(*self.keys)
            if counts.get(True) else None
        )
        self._removed = None
        if counts.get(False):
            rem = rel.filter(~F.col("__added")).select(*self.keys)
            # broadcast the removed side when it fits Spark's threshold
            limit = (
                rel.sparkSession._jsparkSession.sessionState().conf()
                .autoBroadcastJoinThreshold()
            )
            self._removed = (
                F.broadcast(rem) if 0 <= counts[False] * 32 <= limit else rem
            )

    def frame(self) -> DataFrame:
        """The delta as ``keys + __added`` rows."""
        if self.rel is not None:
            return self.rel
        return local_relation(
            self.spark,
            [k + (a,) for k, a in self.rows.items()],
            self.keys + ["__added"],
        )

    def compose(self, base: DataFrame, where=None) -> DataFrame:
        """``base ▷ removed ∪ added``; ``where`` restricts the added rows
        to the slice ``base`` was cut to (a sign-class view)."""
        out = base
        if isinstance(self._removed, Column):
            out = out.filter(~self._removed)
        elif self._removed is not None:
            out = out.join(self._removed, self.keys, "left_anti")
        if self._added is not None:
            add = self._added
            out = out.unionAll(add if where is None else add.filter(where))
        return out

    def release(self) -> None:
        """Drop a checkpointed delta's blocks (one held on the driver has
        none). Relations planned over it can no longer run."""
        if self.rel is not None:
            self.rel._jdf.queryExecution().analyzed().rdd().unpersist(False)


def _materialize(spark, keys, rows) -> Delta | None:
    """Folded ``(key..., added)`` rows → the Delta holding them."""
    if not rows:
        return None
    if len(rows) <= LOCAL_DELTA_ROWS:
        return Delta(spark, keys, rows={tuple(r[:-1]): r[-1] for r in rows})
    schema = ", ".join(f"{k} long" for k in keys) + ", __added boolean"
    rel = spark.createDataFrame(rows, schema).localCheckpoint(eager=True)
    return Delta(spark, keys, rel=rel)


def _fold_rows(
    base: DataFrame, delta: Delta | None, keys, deleted, inserted
) -> Delta | None:
    """``_fold`` for request-sized change rows (lists of key tuples)
    over a delta held on the driver: the base probe is the only job, and
    the set algebra runs on the driver."""
    if not (deleted or inserted):
        return delta
    changed = sorted(set(deleted) | set(inserted))
    present = {
        tuple(r)
        for r in base.select(*keys).filter(_in_rows(keys, changed)).collect()
    }
    state = {} if delta is None else dict(delta.rows)
    for k in deleted:
        if k in present:
            state[k] = False
        else:
            state.pop(k, None)
    for k in inserted:
        if k in present:
            state.pop(k, None)
        else:
            state[k] = True
    return _materialize(
        base.sparkSession, keys, [k + (a,) for k, a in state.items()]
    )


def _fold(
    base: DataFrame,
    delta: Delta | None,
    keys,
    deleted,
    inserted,
) -> Delta | None:
    """The delta after deleting ``deleted`` and then inserting
    ``inserted`` (SPARQL Update's order) on top of ``delta``: one probe
    of the base for the changed keys, then one aggregation per key over
    the old delta, the changes and the probe. Per key, with b = "in the
    base": visible before = (b ∧ ¬removed) ∨ added, visible after =
    inserted ∨ (visible before ∧ ¬deleted); the key is in the new
    ``removed`` when b ∧ ¬after and in the new ``added`` when ¬b ∧ after.
    ``deleted``/``inserted`` are DataFrames (data-sized: the probe
    leaves the join strategy to AQE), or lists of key tuples sized by the
    request (folded on the driver by ``_fold_rows`` while they fit a
    local delta; broadcast in the probe otherwise)."""
    keys = list(keys)
    spark = base.sparkSession
    ground = all(d is None or isinstance(d, list) for d in (deleted, inserted))
    if (
        ground
        and sum(len(d) for d in (deleted, inserted) if d) <= LOCAL_DELTA_ROWS
        and (delta is None or delta.rows is not None)
    ):
        return _fold_rows(base, delta, keys, deleted or [], inserted or [])
    schema = ", ".join(f"{k} long" for k in keys)
    deleted, inserted = (
        spark.createDataFrame(d, schema) if isinstance(d, list) else d
        for d in (deleted, inserted)
    )
    changes = [
        d.select(*keys) for d in (deleted, inserted) if d is not None
    ]
    if not changes:
        return delta
    probe = changes[0] if len(changes) == 1 else changes[0].unionAll(changes[1])
    present = base.select(*keys).join(
        F.broadcast(probe) if ground else probe, keys, "left_semi"
    )

    def tagged(df, bit):
        return df.select(*keys, F.lit(bit).alias("__f"))

    parts = [tagged(present, _IN_BASE)]
    if deleted is not None:
        parts.append(tagged(deleted, _DELETE))
    if inserted is not None:
        parts.append(tagged(inserted, _INSERT))
    if delta is not None:
        parts.append(
            delta.frame().select(
                *keys,
                F.when(F.col("__added"), F.lit(_ADDED))
                .otherwise(F.lit(_REMOVED))
                .alias("__f"),
            )
        )
    rows = parts[0]
    for p in parts[1:]:
        rows = rows.unionAll(p)
    f = F.col("__f")

    def has(bit):
        return f.bitwiseAND(bit) != 0

    in_base = has(_IN_BASE | _REMOVED)
    before = (in_base & ~has(_REMOVED)) | has(_ADDED)
    after = has(_INSERT) | (before & ~has(_DELETE))
    out = (
        rows.groupBy(*keys)
        .agg(F.bit_or("__f").alias("__f"))
        .filter(in_base != after)
        .select(*keys, (~in_base).alias("__added"))
    )
    got = out.limit(LOCAL_DELTA_ROWS + 1).collect()
    if len(got) <= LOCAL_DELTA_ROWS:
        return _materialize(spark, keys, [tuple(r) for r in got])
    return Delta(spark, keys, rel=out.localCheckpoint(eager=True))


class TripleStore:
    """Dictionary-encoded triples ``(s, p, o)`` with a pluggable physical layout."""

    def __init__(
        self,
        triples: DataFrame,
        layout: str = "single",
        cluster_by: str | None = None,
        num_partitions: int | None = None,
        broadcast_negative: bool = False,
        cache: bool = False,
        quads: DataFrame | None = None,
        graphs_disjoint: bool = False,
    ):
        """``broadcast_negative`` defaults to False: the reference broadcasts
        its Negative table unconditionally (MSc-scale assumption); at 100 TB
        an unconditional broadcast OOMs the day Negative is not small. AQE's
        runtime-stats join selection broadcasts it automatically when it IS
        small — the hint remains an explicit opt-in.

        ``cache``: persist the laid-out relation in executor memory. Right
        when the store is derived (view over other tables) and queried
        repeatedly — a 3-leg self-join otherwise re-derives the view once
        per leg. At corpus scale prefer ``write()`` + ``read()`` (disk
        layout) over caching 100 TB in RAM."""
        if layout not in LAYOUTS:
            raise ValueError(f"layout must be one of {LAYOUTS}")
        if cluster_by not in CLUSTER_KEYS:
            raise ValueError(f"cluster_by must be one of {CLUSTER_KEYS}")
        self.layout = layout
        self.cluster_by = cluster_by
        self.num_partitions = num_partitions
        self.broadcast_negative = broadcast_negative
        self._df = self._apply_clustering(triples.select("s", "p", "o"))
        if cache:
            self._df = self._df.persist()
        self._quads = (
            quads.select("g", "s", "p", "o") if quads is not None else None
        )
        # pending update deltas of the default graph and the quads, and
        # superseded ones a base relation may still read (module doc)
        self._delta: Delta | None = None
        self._qdelta: Delta | None = None
        self._pinned: tuple = ()
        # invariant: no (s, p, o) triple appears in more than one named
        # graph. The RDF-merge semantics of a multi-graph FROM then need
        # NO duplicate elimination, so the planner skips the merge's
        # .distinct() — one full shuffle of the selected triples saved
        # (the common case for partitioned loads, where each triple is
        # written to exactly one graph). NOT provable from a
        # partitionBy("g") layout alone — partitioning places each ROW in
        # one directory, but the same triple may be asserted under two g
        # values — so it is either (a) caller-declared here (trust-me),
        # or (b) PROVEN at write time: ``write_quads`` verifies it with
        # one keyed aggregation and persists a ``_GRAPHS_DISJOINT``
        # marker that ``attach_quads_path`` applies automatically (r8).
        self.graphs_disjoint = graphs_disjoint

    def _apply_clustering(self, df: DataFrame) -> DataFrame:
        if self.cluster_by is None:
            return df
        n = self.num_partitions
        clustered = (
            df.repartitionByRange(n, self.cluster_by)
            if n
            else df.repartitionByRange(self.cluster_by)
        )
        return clustered.sortWithinPartitions(self.cluster_by)

    # -- views ------------------------------------------------------------
    @property
    def _has_sign(self) -> bool:
        """True when backed by sign-partitioned Parquet (read path): the
        ``sign`` partition column is present and filters on it become
        Catalyst PartitionFilters — directory-level pruning, zero data read
        for the pruned side."""
        return "sign" in self._df.columns

    @staticmethod
    def _spo(df: DataFrame) -> DataFrame:
        return df.select("s", "p", "o")

    def _with_delta(self, base: DataFrame, where=None) -> DataFrame:
        base = self._spo(base)
        if self._delta is None:
            return base
        return self._delta.compose(base, where)

    @property
    def df(self) -> DataFrame:
        """The full triple relation (Positive ∪ Negative when split)."""
        return self._with_delta(self._df)

    @property
    def positive(self) -> DataFrame:
        """Subjects ≥ 0 (P4; PartitionQueryingBRDSubject.java:100-104)."""
        if self._has_sign:
            base = self._df.filter(F.col("sign") == 1)
        else:
            base = self._df.filter(F.col("s") >= 0)
        return self._with_delta(base, F.col("s") >= 0)

    @property
    def negative(self) -> DataFrame:
        """Subjects < 0 (P5; :120-124); broadcast-hinted only on opt-in."""
        neg = self._negative_raw
        return F.broadcast(neg) if self.broadcast_negative else neg

    @property
    def negative_raw(self) -> DataFrame:
        """Negative side WITHOUT the broadcast hint: the right view for
        plans that need the pruned scan (sign=0 PartitionFilter on a
        persisted store) but must leave the join strategy to AQE."""
        if self._has_sign:
            base = self._df.filter(F.col("sign") == 0)
        else:
            base = self._df.filter(F.col("s") < 0)
        return self._with_delta(base, F.col("s") < 0)

    # backwards-compatible private alias
    _negative_raw = negative_raw

    # -- named graphs (SPARQL 1.1 §13: dataset = default graph + named
    # graphs). The default graph stays the triple relation; named graphs
    # are a quad relation ``(g, s, p, o)`` with dictionary-encoded graph
    # names. GRAPH <iri> compiles to a g-equality filter — on a persisted
    # g-partitioned store that is directory-level partition pruning, the
    # same "write once, prune forever" story as the sign split.
    @property
    def quads_relation(self) -> DataFrame | None:
        """The quad relation with its pending delta; None without named
        graphs."""
        if self._quads is None or self._qdelta is None:
            return self._quads
        return self._qdelta.compose(self._quads)

    @property
    def quads(self) -> DataFrame:
        """The named-graph quad relation; raises when the store was built
        without one (a triples-only dataset has no named graphs)."""
        if self._quads is None:
            raise ValueError(
                "store has no named graphs: construct with quads=DataFrame"
                "(g, s, p, o) or attach_quads()"
            )
        return self.quads_relation.select("g", "s", "p", "o")

    @property
    def has_quads(self) -> bool:
        return self._quads is not None

    def attach_quads(
        self, quads: DataFrame, graphs_disjoint: bool | None = None
    ) -> None:
        self._quads = quads.select("g", "s", "p", "o")
        self._qdelta = None
        if graphs_disjoint is not None:
            self.graphs_disjoint = graphs_disjoint

    def quads_for_graph(self, graph_id: int) -> DataFrame:
        """One named graph as a plain triple relation (the active graph of
        a constant ``GRAPH <iri>`` block): a pushdown-able g-equality —
        partition pruning on a ``write_quads`` layout."""
        return (
            self.quads.filter(F.col("g") == F.lit(int(graph_id)))
            .select("s", "p", "o")
        )

    def write_quads(self, path: str, verify_disjoint: bool = True) -> None:
        """Persist named graphs partitioned BY GRAPH: ``GRAPH <iri>``
        then reads exactly one directory. Right for the common
        tens-to-thousands-of-graphs regime; a dataset with millions of
        tiny graphs should range-cluster on ``g`` instead (same min/max
        row-group skipping, no directory explosion).

        ``verify_disjoint`` (r8): PROVE the graphs-disjoint invariant —
        no (s, p, o) in more than one graph — with one keyed aggregation
        (24-byte keys, map-side partial count_distinct) and persist a
        ``_GRAPHS_DISJOINT`` marker next to ``_SUCCESS`` when it holds.
        ``attach_quads_path`` then enables the planner's merge-skip fast
        path automatically: one write-time shuffle buys every future
        multi-graph FROM a shuffle-free RDF merge, and a wrong caller
        declaration can no longer silently change semantics. Opt out for
        pure-append pipelines that re-verify elsewhere."""
        self.quads.write.mode("overwrite").partitionBy("g").parquet(path)
        if not verify_disjoint:
            return
        shared = (
            self.quads.groupBy("s", "p", "o")
            .agg(F.count_distinct("g").alias("ng"))
            .filter(F.col("ng") > 1)
        )
        if shared.isEmpty():
            self._touch_marker(self.quads.sparkSession, path)

    _DISJOINT_MARKER = "_GRAPHS_DISJOINT"

    @classmethod
    def _marker_fs_path(cls, spark: SparkSession, path: str):
        """(FileSystem, Path) for the disjointness marker — the Hadoop FS
        API, so the proof travels with the data on HDFS/S3, not only on
        a local filesystem."""
        jpath = spark._jvm.org.apache.hadoop.fs.Path(
            path.rstrip("/") + "/" + cls._DISJOINT_MARKER
        )
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        return fs, jpath

    @classmethod
    def _touch_marker(cls, spark: SparkSession, path: str) -> None:
        fs, jpath = cls._marker_fs_path(spark, path)
        fs.create(jpath, True).close()

    @classmethod
    def quads_disjoint_proven(cls, spark: SparkSession, path: str) -> bool:
        """True iff ``write_quads`` verified graph disjointness for this
        layout (the ``_GRAPHS_DISJOINT`` marker exists)."""
        fs, jpath = cls._marker_fs_path(spark, path)
        return bool(fs.exists(jpath))

    @staticmethod
    def read_quads(spark: SparkSession, path: str) -> DataFrame:
        """Open a ``write_quads`` layout without re-shuffling; pass to
        ``attach_quads`` / the ``quads=`` constructor arg (or use
        ``attach_quads_path`` to auto-apply the disjointness proof)."""
        return spark.read.parquet(path)

    def attach_quads_path(self, spark: SparkSession, path: str) -> None:
        """Open a ``write_quads`` layout AND apply its write-time
        disjointness proof: the planner's multi-graph-FROM fast path
        (skip the RDF merge's ``.distinct()``) turns on exactly when the
        marker proves it sound — no trust-me flag involved. An explicit
        caller declaration (``graphs_disjoint=True``) is still honored."""
        self._quads = self.read_quads(spark, path).select("g", "s", "p", "o")
        self._qdelta = None
        if self.quads_disjoint_proven(spark, path):
            self.graphs_disjoint = True

    def table_for_subject(self, subject_id: int | None) -> DataFrame:
        """Static sign routing (MyOpVisitorBase.java:82-86): a bound subject
        selects one side; an unbound subject needs both (U1's UNION ALL —
        here simply the unsplit relation, same rows). On a persisted store
        the routing is a partition filter — Catalyst prunes whole
        directories, the modern form of the reference's hand-routed SQL."""
        if self.layout == "single" or subject_id is None:
            return self.df
        return self.positive if subject_id >= 0 else self._negative_raw

    # -- registration (S6) -------------------------------------------------
    def register(self, spark: SparkSession, name: str = "table") -> None:
        """Temp views: ``table`` always; ``Positive``/``Negative`` when split."""
        self.df.createOrReplaceTempView(name)
        if self.layout == "sign_split":
            self.positive.createOrReplaceTempView("Positive")
            self._negative_raw.createOrReplaceTempView("Negative")

    # -- updates ------------------------------------------------------------
    def _copy(self) -> "TripleStore":
        new = TripleStore.__new__(TripleStore)
        new.__dict__.update(self.__dict__)
        return new

    def with_changes(
        self,
        deleted: DataFrame | list | None = None,
        inserted: DataFrame | list | None = None,
        *,
        quads: bool = False,
        graphs_disjoint: bool | None = None,
    ) -> "TripleStore":
        """A copy of this store with ``deleted`` removed and then
        ``inserted`` added (set semantics) on the default graph, or on
        the quad relation with ``quads=True``. The base is probed once
        and the change folds into the one materialized delta (``_fold``);
        the base itself is untouched. The changes are DataFrames or
        lists of key tuples (ground INSERT/DELETE DATA rows)."""
        new = self._copy()
        if graphs_disjoint is not None:
            new.graphs_disjoint = graphs_disjoint
        if quads:
            base = self._quads
            if base is None:
                base = new._quads = self._df.sparkSession.createDataFrame(
                    [], "g long, s long, p long, o long"
                )
            new._qdelta = _fold(
                base, self._qdelta, QUAD_KEYS, deleted, inserted
            )
        else:
            new._delta = _fold(
                self._spo(self._df), self._delta, TRIPLE_KEYS, deleted,
                inserted,
            )
        return new

    def with_base(
        self,
        df: DataFrame | None = None,
        quads: DataFrame | None | str = "keep",
        graphs_disjoint: bool | None = None,
        pin: bool = True,
    ) -> "TripleStore":
        """A copy whose default-graph base (``df``) and/or quad base
        (``quads``; ``None`` drops the named graphs) is replaced and that
        relation's delta emptied, WITHOUT re-running layout clustering.
        A new base may read this store's views, so every delta it held
        stays pinned (kept from ``release_deltas``); ``pin=False`` when
        the new bases are materialized copies."""
        new = self._copy()
        new._pinned = self._pinned + self._live_deltas() if pin else ()
        if df is not None:
            new._df = df
            new._delta = None
        if not isinstance(quads, str):
            new._quads = (
                quads.select("g", "s", "p", "o") if quads is not None else None
            )
            new._qdelta = None
        if graphs_disjoint is not None:
            new.graphs_disjoint = graphs_disjoint
        return new

    def _live_deltas(self) -> tuple:
        return tuple(d for d in (self._delta, self._qdelta) if d is not None)

    def release_deltas(self, keep: "TripleStore | None" = None) -> None:
        """Release the checkpointed deltas this store holds or pins,
        except those ``keep`` still holds or pins. Relations planned over
        this store before the call can no longer run."""
        kept = () if keep is None else keep._live_deltas() + keep._pinned
        for d in self._live_deltas() + self._pinned:
            if not any(d is k for k in kept):
                d.release()

    # -- persistence --------------------------------------------------------
    def write(self, path: str) -> None:
        """Persist as Parquet — the "write once, prune forever" half of the
        100 TB story: ``sign`` becomes a Parquet partition column when split
        (directory pruning replaces the reference's hand-routed
        Positive/Negative SQL), and range clustering is preserved as
        row-group sort order (min/max stats → scan skipping on the cluster
        key)."""
        df = self.df
        if self.layout == "sign_split":
            df = df.withColumn("sign", (F.col("s") >= 0).cast("int"))
            df.write.mode("overwrite").partitionBy("sign").parquet(path)
        else:
            df.write.mode("overwrite").parquet(path)

    @classmethod
    def read(
        cls,
        spark: SparkSession,
        path: str,
        layout: str = "single",
        cluster_by: str | None = None,
        **kwargs,
    ) -> "TripleStore":
        """Open a persisted store WITHOUT re-shuffling: the on-disk layout IS
        the layout. The ``sign`` partition column (when present) is kept in
        the backing df so the split views prune at directory level."""
        df = spark.read.parquet(path)
        store = cls.__new__(cls)
        store.layout = layout
        store.cluster_by = cluster_by
        store.num_partitions = kwargs.get("num_partitions")
        store.broadcast_negative = kwargs.get("broadcast_negative", False)
        store._df = df  # already laid out on disk; no re-shuffle on read
        store._quads = None  # attach_quads(read_quads(...)) to add graphs
        store._delta = store._qdelta = None
        store._pinned = ()
        store.graphs_disjoint = kwargs.get("graphs_disjoint", False)
        return store
