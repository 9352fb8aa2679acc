"""Result-set operators on hits DataFrames — the analogue of the
reference's results hierarchy (Hits/HitGroups/DocResults/Facets/Kwics,
reference search/results/HitsAbstract.java, HitGroups.java:54,
DocResults.java:40, Facets.java:9, Kwics.java, Contexts.java:49-108).

A hits DataFrame is (doc_id, start, end [, cap_* ...]). Every operator
here is a pure DataFrame transform: sort = orderBy, group = groupBy/agg,
window = row_number filter, sample = seeded orderBy(rand), KWIC/context
= slice() into the tokenized table's token arrays (the forward index).
All stay JVM-side (no Python UDFs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

HIT_COLS = ("doc_id", "start", "end")


def _ctx_slices(toks: str, size: int):
    """(left, match, right) array slices of a hit's context over one
    token-array column — the single source of the KWIC slice
    expressions (reference Contexts.java:49-108). The right-length
    clamp guards annotation arrays shorter than the hit's doc (a
    misaligned or sparse sidecar must yield an empty slice, not a
    negative-length error)."""
    lstart = F.greatest(F.lit(0), F.col("start") - size) + 1  # 1-based
    left = F.slice(toks, lstart, F.col("start") - lstart + 1)
    match = F.slice(toks, F.col("start") + 1, F.col("end") - F.col("start"))
    right = F.slice(
        toks,
        F.col("end") + 1,
        F.greatest(
            F.lit(0), F.least(F.size(toks) - F.col("end"), F.lit(size))
        ),
    )
    return left, match, right


# ---- context-words property spec (HitPropertyContextWords) ----------------

NO_TERM = "~"  # reference Terms.NO_TERM as serialized by
# PropertyValueContext.serializeTerm (resultproperty/PropertyValueContext.java)

_MAX_HIT_LENGTH = 10  # reference HitPropertyContextWords.MAX_HIT_LENGTH


def serialize_context_term(term: str | None) -> str:
    """NO_TERM -> "~"; terms starting with "~" get one more "~"
    prepended so the sentinel round-trips (reference
    PropertyValueContext.serializeTerm, asserted by
    TestHitProperties.testTermSerialization: aap->aap, ~->~~, ~~->~~~,
    ""->"")."""
    if term is None:
        return NO_TERM
    return "~" + term if term.startswith("~") else term


def deserialize_context_term(s: str) -> str | None:
    """Inverse of serialize_context_term ("~" -> NO_TERM/None)."""
    if s == NO_TERM:
        return None
    return s[1:] if s.startswith("~") else s


def parse_context_spec(spec: str, ctx_size: int) -> list[tuple[str, int, int, int]]:
    """Parse a context-words spec ("L1-1;H1-2", "L1;H2-1;R1") into
    (letter, first_word, abs_direction, max_length) parts — the grammar
    of reference HitPropertyContextWords.parseContextWordSpec
    (resultproperty/HitPropertyContextWords.java:130-171) with init()'s
    maxLength clamps (:222-250): L/R/E/H anchor letters (left of hit,
    right of hit, hit-from-end, hit-from-start), 1-based word numbers,
    ``n-m`` ranges where m<n walks back toward the anchor, bare letter =
    the whole part (hit parts capped at MAX_HIT_LENGTH, context parts at
    the context size)."""
    parts: list[tuple[str, int, int, int]] = []
    for raw in spec.split(";"):
        raw = raw.strip()
        if not raw:
            continue
        letter = raw[0].upper()
        if letter not in ("L", "R", "E", "H"):
            letter = "H"  # reference switch default
        rest = raw[1:]
        first: int = 0
        last: int | None = None  # None == "as much as possible"
        if rest:
            if "-" in rest:
                nums = rest.split("-")
                try:
                    first = int(nums[0]) - 1
                    if len(nums) > 1 and nums[1]:
                        last = int(nums[1]) - 1
                except ValueError:
                    first, last = 0, None  # reference ignores bad ranges
            else:
                first = last = int(rest) - 1
        if last is None:
            direction, max_len = 1, None
        else:
            direction = 1 if first <= last else -1
            max_len = abs(first - last) + 1
        if direction < 0:
            max_len = min(max_len, first + 1)
        else:
            bound = (_MAX_HIT_LENGTH if letter in ("H", "E") else ctx_size) - first
            max_len = bound if max_len is None else min(max_len, bound)
        max_len = max(max_len, 0)
        # L and E anchor-relative numbering runs leftward, so their
        # absolute walk direction is the inverse (absoluteDirection())
        abs_dir = direction if letter in ("H", "R") else -direction
        parts.append((letter, first, abs_dir, max_len))
    return parts


def _context_words_key(toks, ctx_size: int, parts) -> "F.Column":
    """Fixed-length serialized-term tuple for one context-words spec
    (reference HitPropertyContextWords.get:258-326): each part walks
    from its anchor in its direction until the window/part boundary and
    pads with NO_TERM to its max length, so every hit yields a
    same-shape grouping key. Pure codegen (get + when over the joined
    token array). Divergence: anchor offsets that leave the context
    window entirely yield NO_TERM here; the reference reads undefined
    buffer content there (context array underflow)."""
    s, e = F.col("start"), F.col("end")
    w0 = F.greatest(F.lit(0), s - ctx_size)  # context window start
    w1 = F.least(F.size(toks), e + ctx_size)  # context window end (excl)
    elems = []
    for letter, first, abs_dir, m in parts:
        if letter == "L":
            anchor = s - 1
            first_src = anchor - first
            invalid = (w0 - 1) if abs_dir < 0 else s
        elif letter == "R":
            anchor = e
            first_src = anchor + first
            invalid = w1 if abs_dir > 0 else (e - 1)
        elif letter == "E":
            anchor = e - 1
            first_src = anchor - first
            invalid = s if abs_dir < 0 else (e - 1)
        else:  # H
            anchor = s
            first_src = anchor + first
            invalid = e if abs_dir > 0 else (s - 1)
        if abs_dir > 0:
            invalid = F.least(invalid, anchor + first + m)
        else:
            invalid = F.greatest(invalid, anchor - first - m)
        for i in range(m):
            pos = first_src + F.lit(i * abs_dir)
            ok = (pos < invalid) if abs_dir > 0 else (pos > invalid)
            term = F.get(toks, pos)  # 0-based, null off both edges
            ser = F.when(
                term.startswith("~"), F.concat(F.lit("~"), term)
            ).otherwise(term)
            elems.append(F.coalesce(F.when(ok, ser), F.lit(NO_TERM)))
    return F.array_join(F.array(*elems), " ")


class RunningCount:
    """Asynchronous total count with a live RUNNING tally — the BLS
    waitfortotal=no semantics (reference HitsAbstract.ensureResultsRead
    counts on a background SearchThread while the response returns;
    ResultCount/MaxStats expose the growing numberOfHits + stillCounting;
    waitfortotal=yes blocks until counting ends,
    wslib PlainWebserviceParams.java:19-110).

    The count job runs on a daemon thread (Spark schedules concurrent
    jobs per session). The RUNNING value is a Spark accumulator fed one
    update per Arrow batch as tasks stream through — the driver reads
    it live, exactly like BLS's growing hit counter. The FINAL total is
    the sum of per-batch counts emitted as rows, so it is exact even if
    a task is re-attempted (transformation-side accumulator updates can
    double-count under retry; the accumulator is only the progress
    signal, never the answer)."""

    def __init__(self, df: DataFrame):
        import threading

        spark = df.sparkSession
        self._acc = spark.sparkContext.accumulator(0)
        self._total: int | None = None
        self._error: BaseException | None = None
        acc = self._acc

        ones = df.select(F.lit(1).alias("_one"))

        def tally(batches):
            import pyarrow as pa

            n = 0
            for b in batches:
                acc.add(b.num_rows)
                n += b.num_rows
            yield pa.RecordBatch.from_pydict({"n": pa.array([n], pa.int64())})

        counted = ones.mapInArrow(tally, "n long")

        def work():
            try:
                row = counted.agg(F.sum("n").alias("s")).collect()[0]
                self._total = int(row["s"] or 0)
            except BaseException as e:  # surfaced on total()
                self._error = e

        self._thread = threading.Thread(
            target=work, name="blspark-running-count", daemon=True
        )
        self._thread.start()

    @property
    def running(self) -> int:
        """Current tally — grows while counting, exact once finished."""
        return self._total if self._total is not None else int(self._acc.value)

    @property
    def still_counting(self) -> bool:
        return self._thread.is_alive()

    def total(self, timeout: float | None = None) -> int | None:
        """Block until counting completes (waitfortotal=yes); None on
        timeout."""
        self._thread.join(timeout)
        if self._thread.is_alive():
            return None
        if self._error is not None:
            raise self._error
        return self._total


class Hits:
    """Lazy hits result — mirrors the fluent surface of the reference's
    `Hits` (reference search/results/HitsAbstract.java:154-440)."""

    def __init__(self, corpus, df: DataFrame):
        self.corpus = corpus
        self.df = df

    # -- sort-order plumbing ------------------------------------------------
    # A Spark orderBy is destroyed by the next join/shuffle, but the
    # reference's Hits KEEP their sort through windowing and KWIC
    # rendering (HitsAbstract.java:154-196 window over sorted hits).
    # Sorts therefore materialize their keys as hidden ``_ordN``
    # columns that ride along the hits DataFrame; window() and kwic()
    # re-assert the order from them. They are name-detected so every
    # `Hits(corpus, out)` construction propagates them for free.

    @property
    def _order_cols(self) -> list[str]:
        return sorted(
            (c for c in self.df.columns if c.startswith("_ord")),
            key=lambda c: int(c.lstrip("_ordD") or 0),
        )

    def _hit_order(self) -> list:
        # a _ordD<i> name marks a descending key (reference '-' prefix
        # on a serialized property reverses that part)
        return [
            F.col(c).desc() if c.startswith("_ordD") else F.col(c)
            for c in self._order_cols
        ] + ["doc_id", "start", "end"]

    def _sorted(self, keys: list, base_df: DataFrame | None = None,
                descs: list[bool] | None = None) -> "Hits":
        """New Hits sorted by ``keys`` (Column expressions over
        ``base_df``, default self.df), keys kept as ``_ord[D]N``."""
        df = base_df if base_df is not None else self.df
        stale = [c for c in df.columns if c.startswith("_ord")]
        if stale:  # a re-sort replaces the previous order
            df = df.drop(*stale)
        descs = descs or [False] * len(keys)
        ords = []
        for i, (k, d) in enumerate(zip(keys, descs)):
            name = f"_ordD{i}" if d else f"_ord{i}"
            df = df.withColumn(name, k)
            ords.append(name)
        keep = [c for c in self.df.columns if not c.startswith("_ord")]
        out = df.select(*keep, *ords)
        out = Hits(self.corpus, out)
        return Hits(self.corpus, out.df.orderBy(*out._hit_order()))

    # -- basic ------------------------------------------------------------
    def count(self) -> int:
        """ResultCount analogue (reference ResultCount.java:8)."""
        return self.df.count()

    def count_running(self) -> RunningCount:
        """Start counting on a background thread and return the handle
        immediately (BLS waitfortotal=no / stillCounting)."""
        return RunningCount(self.df)

    def count_stats(
        self,
        max_count: int | None = None,
    ) -> dict:
        """Capped counting with MaxStats (reference
        HitsFromQuery.java:63-70 maxHitsToProcess/maxHitsToCount,
        SearchSettings defaults): enumerate at most ``max_count + 1``
        hits — the limit pushes into the plan (CollectLimit), so an
        interactive endpoint never pays for an unbounded count.
        Returns {'count', 'counted_exactly', 'max_exceeded'}; when
        exceeded, count == max_count (the reference reports the cap)."""
        if max_count is None:
            return {
                "count": self.df.count(),
                "counted_exactly": True,
                "max_exceeded": False,
            }
        n = self.df.limit(max_count + 1).count()
        if n > max_count:
            return {
                "count": max_count,
                "counted_exactly": False,
                "max_exceeded": True,
            }
        return {"count": n, "counted_exactly": True, "max_exceeded": False}

    def limited(self, max_retrieve: int) -> "Hits":
        """Truncate processing to the first max_retrieve hits in
        deterministic (doc,start,end) order — the maxHitsToProcess
        analogue; downstream sort/group/kwic see only these."""
        out = self.df.orderBy(*self._hit_order()).limit(max_retrieve)
        return Hits(self.corpus, out)

    def doc_count(self) -> int:
        return self.df.select("doc_id").distinct().count()

    def window(self, first: int, number: int) -> "Hits":
        """Stable pagination (reference HitsAbstract.java:154-196).
        Deterministic order: (doc_id, start, end).

        Scale note: a global row_number() would funnel every hit
        through one partition. orderBy + offset + limit plans as a
        TakeOrderedAndProject with offset (per-partition top-
        (first+number) heaps + tiny merge) and STAYS LAZY — deep pages
        never pull preceding hits into driver memory, and downstream
        transforms keep a distributed plan. A prior sort's hidden
        ``_ordN`` keys lead the ordering, so pagination walks the
        SORTED hits like the reference."""
        out = self.df.orderBy(*self._hit_order()).offset(first).limit(number)
        return Hits(self.corpus, out)

    def sample(self, n: int | None = None, fraction: float | None = None,
               seed: int = 42) -> "Hits":
        """Seeded sampling (reference SampleParameters.java:13-26)."""
        if fraction is not None:
            return Hits(self.corpus, self.df.sample(fraction=fraction, seed=seed))
        out = self.df.orderBy(F.rand(seed)).limit(n or 100)
        return Hits(self.corpus, out)

    def filter_docs(self, filter_expr: str) -> "Hits":
        """Metadata filter (reference SpanQueryFiltered.java:23)."""
        docs = self.corpus.doc_stats.filter(filter_expr).select("doc_id")
        return Hits(self.corpus, self.df.join(docs, "doc_id", "leftsemi"))

    def filter_by_property(self, criterion: str, value: str) -> "Hits":
        """Keep hits whose HitProperty value equals ``value`` — the BLS
        hitfiltercrit/hitfilterval pair (reference HitsAbstract.java:327,
        HitsFiltered.java; deserialized via HitProperty.deserialize in
        WebserviceParamsImpl.java:438-443). Any criterion `_with_keys`
        understands works: hit[:ann], left/right, wordleft/wordright,
        capture:name, field:col, decade."""
        df, keys = self._with_keys([criterion])
        if criterion == "decade":
            cond = F.col(keys[0]) == int(value)
        else:
            cond = F.col(keys[0]).cast("string") == value
        return Hits(self.corpus, df.filter(cond).select(*self.df.columns))

    # -- context (forward-index access) -------------------------------------
    def with_context(self, size: int | None = None, annotation: str = "word",
                     sensitive: bool = False) -> DataFrame:
        """Attach left/match/right token arrays per hit
        (reference Contexts.java:49-108; KWIC default context 5,
        BlackLabIndex.java:74; size=0 is a legitimate match-only
        request). slice() on the doc's token array — one equi-join on
        doc_id, no shuffle of the token table beyond the hash join."""
        if size is None:
            size = self.corpus.cfg.context_size
        col = "tokens" if sensitive else "tokens_i"
        if annotation not in ("word", ""):
            col = f"ann_{annotation}"
        tk = self.corpus.context_store.select(
            "doc_id", F.col(col).alias("_toks"), "conv_id", "turn_idx"
        )
        j = self.df.join(tk, "doc_id")
        left, match, right = _ctx_slices("_toks", size)
        return (
            j.withColumn("left", left)
            .withColumn("match", match)
            .withColumn("right", right)
            .drop("_toks")
        )

    def kwic(
        self, size: int | None = None, annotations: list[str] | None = None
    ) -> DataFrame:
        """Keyword-in-context strings (reference Kwic.java:19-96).

        ``annotations``: extra annotation views of the same context
        (reference Kwic carries EVERY annotation per context token —
        TestKwic.java:26-35 word/lemma/pos columns; BLS `listvalues`
        picks which appear in hit results). Each adds
        ``left_<a>/match_<a>/right_<a>`` columns, sliced from the same
        joined row — one doc_id join total, all slices codegen."""
        if size is None:
            size = self.corpus.cfg.context_size
        # dedup user-supplied names (a repeated listvalues entry would
        # otherwise alias two identical columns and break resolution)
        anns = list(dict.fromkeys(annotations or []))
        # ONE doc_id join carrying every needed token array; each view
        # is three codegen slices over its array. KWIC displays the
        # ORIGINAL word forms (the reference's forward index stores the
        # case-preserved primary value and Kwic renders it,
        # TestKwic.java "De"/"snelle"); the folded variants exist for
        # matching/grouping, not display.
        views = [("", "tokens")] + [
            (f"_{a}", f"ann_{a}" if a not in ("word", "") else "tokens")
            for a in anns
        ]
        tk = self.corpus.context_store.select(
            "doc_id",
            "conv_id",
            "turn_idx",
            *[F.col(src).alias(f"_toks{sfx}") for sfx, src in views],
        )
        j = self.df.join(tk, "doc_id")
        cols = ["doc_id", "conv_id", "turn_idx", "start", "end"]
        for sfx, _src in views:
            left, match, right = _ctx_slices(f"_toks{sfx}", size)
            cols += [
                F.array_join(left, " ").alias(f"left{sfx}"),
                F.array_join(match, " ").alias(f"match{sfx}"),
                F.array_join(right, " ").alias(f"right{sfx}"),
            ]
        # the join scrambles row order; re-assert a prior sort (the
        # reference renders KWICs in the hits' own order, Kwics.java)
        if self._order_cols:
            j = j.orderBy(*self._hit_order())
        return j.select(*cols)

    def concordance(self) -> DataFrame:
        """Original-content concordances (reference Concordances.java;
        content store = the source text column)."""
        j = self.df.join(
            # content store lives only in `tokenized` (the bucketed FI
            # carries token arrays, not raw text)
            self.corpus.tokenized.select("doc_id", "conv_id", "turn_idx", "text"),
            "doc_id",
        )
        if self._order_cols:
            j = j.orderBy(*self._hit_order()).drop(*self._order_cols)
        return j

    # -- sort ---------------------------------------------------------------
    def sort_by_hit_text(self, annotation: str = "word") -> "Hits":
        """Collator-correct sort by matched text, then (doc,start,end)
        tie-break (reference HitsAbstract.java:279-297). Primary key =
        the desensitized (case+accent-folded) text, secondary = the raw
        sensitive text — the two-strength ordering of the reference's
        insensitive/sensitive collator pair (Collators.java:14-82,
        forwardindex/Terms.java:69-95): 'Apple apple applesauce Banana'
        sorts as one apple-group before banana, NOT ASCIIbetically with
        all capitals first. Key chain = search.collation.collation_keys:
        the session JVM's java.text.Collator order at TERTIARY strength,
        then the raw text as a deterministic tie-break."""
        from blacklab_spark.search.collation import collation_keys

        ctx = self.with_context(0, annotation, sensitive=True)
        raw = F.array_join("match", " ")
        return self._sorted(collation_keys(raw), base_df=ctx)

    def sort_by_context(self, side: str = "left", size: int | None = None) -> "Hits":
        """Sort on left/right context words (reference HitProperty
        `left`/`right`, resultproperty/HitProperty.java:41-110); left
        context compares right-to-left like the reference. Same
        collation key chain as sort_by_hit_text
        (search.collation.collation_keys)."""
        from blacklab_spark.search.collation import collation_keys

        ctx = self.with_context(size, sensitive=True)
        raw = (
            F.array_join(F.reverse("left"), " ")
            if side == "left"
            else F.array_join("right", " ")
        )
        return self._sorted(collation_keys(raw), base_df=ctx)

    # -- group ----------------------------------------------------------------
    def group_by_hit_text(self, annotation: str = "word", max_stored: int = 10) -> DataFrame:
        """HitGroups (reference HitGroups.java:54): group size + a stored
        sample of hits per group."""
        ctx = self.with_context(0, annotation)
        return (
            ctx.withColumn("grp", F.array_join("match", " "))
            .groupBy("grp")
            .agg(
                F.count(F.lit(1)).alias("size"),
                F.slice(
                    F.sort_array(F.collect_list(F.struct("doc_id", "start", "end"))),
                    1,
                    max_stored,
                ).alias("sample_hits"),
            )
            .orderBy(F.desc("size"), "grp")
        )

    def sort_by_hit_position(self) -> "Hits":
        """HitProperty `hitposition` — corpus order (doc, start, end)
        (reference resultproperty/HitPropertyHitPosition)."""
        df = self.df.drop(*self._order_cols)  # replaces any prior sort
        return Hits(self.corpus, df.orderBy("doc_id", "start", "end"))

    # -- multi-criteria properties (HitPropertyMultiple) ---------------------
    def _with_keys(self, criteria: list[str], size: int | None = None):
        """Attach one key column per criterion (reference
        resultproperty/HitPropertyMultiple.java — a compound property is
        the tuple of its parts). All keys derive via codegen expressions
        after at most one tokenized join per needed annotation plus one
        doc_stats join — no shuffle beyond the hash joins.

        Criteria: ``hit[:ann]``, ``left[:ann]``, ``right[:ann]``,
        ``wordleft[:ann]``, ``wordright[:ann]``, ``capture:name``,
        ``field:col``, ``decade``, ``hitposition``, and the reference's
        context-words DSL ``context[:ann[:sens[:spec]]]`` (reference
        HitPropertyContextWords serialization ``context:word:s:L1-1``).
        Text keys use the desensitized annotation (primary collation
        strength); ``context`` honors its sensitivity part."""
        if size is None:
            size = self.corpus.cfg.context_size
        df = self.df

        def ann_of(crit: str) -> str:
            parts = crit.split(":")
            return parts[1] if len(parts) > 1 and parts[1] else "word"

        def ctx_of(crit: str) -> tuple[str, str, str]:
            # context:<ann>:<sens>:<spec>, every part optional
            parts = crit.split(":")
            ann = parts[1] if len(parts) > 1 and parts[1] else "word"
            sens = parts[2] if len(parts) > 2 and parts[2] else "s"
            spec = parts[3] if len(parts) > 3 and parts[3] else "H"
            return ann, "i" if sens in ("i", "di") else "s", spec

        anns: set[str] = set()
        ctx_srcs: set[tuple[str, str]] = set()
        meta_cols: set[str] = set()
        for crit in criteria:
            base = crit.split(":")[0]
            if base in ("hit", "left", "right", "wordleft", "wordright"):
                anns.add(ann_of(crit))
            elif base == "context":
                ann, sens, _ = ctx_of(crit)
                ctx_srcs.add((ann, sens))
            elif base == "capture":
                anns.add("word")
            elif base == "field":
                meta_cols.add(crit.split(":", 1)[1])
            elif crit == "decade":
                meta_cols.add("ts")
            elif crit == "fieldlen":
                meta_cols.add("num_tokens")
        for a in sorted(anns):
            src = "tokens_i" if a in ("word", "") else f"ann_{a}"
            tk = self.corpus.context_store.select(
                "doc_id", F.col(src).alias(f"_toks_{a}")
            )
            df = df.join(tk, "doc_id")
        for a, sens in sorted(ctx_srcs):
            src = F.col("tokens" if a in ("word", "") else f"ann_{a}")
            if sens == "i":
                from blacklab_spark.analysis import desensitize_col

                src = F.transform(src, lambda t: desensitize_col(t, "i"))
            tk = self.corpus.context_store.select(
                "doc_id", src.alias(f"_ctxtoks_{a}_{sens}")
            )
            df = df.join(tk, "doc_id")
        if meta_cols:
            df = df.join(
                self.corpus.doc_stats.select("doc_id", *sorted(meta_cols)), "doc_id"
            )

        keys: list[str] = []
        for n, crit in enumerate(criteria):
            kc = f"_k{n}"
            base = crit.split(":")[0]
            if base in ("hit", "left", "right", "wordleft", "wordright"):
                toks = F.col(f"_toks_{ann_of(crit)}")
            if crit == "decade":
                col = F.year("ts") - F.year("ts") % 10
            elif crit in ("doc", "docid"):
                # HitPropertyDoc / HitPropertyDocumentId (the pid IS
                # derived from doc_id in this engine)
                col = F.col("doc_id")
            elif crit == "fieldlen":
                # HitPropertyDocumentLength analogue (fieldlen:
                # annotated field length in tokens)
                col = F.col("num_tokens")
            elif crit == "numhits":
                # hits in the same document (DocPropertyNumberOfHits
                # surfaced as a hit sort criterion)
                col = F.count(F.lit(1)).over(
                    Window.partitionBy("doc_id")
                )
            elif base == "context":
                ann, sens, spec = ctx_of(crit)
                col = _context_words_key(
                    F.col(f"_ctxtoks_{ann}_{sens}"),
                    size,
                    parse_context_spec(spec, size),
                )
            elif crit == "hitposition":
                col = F.struct("doc_id", "start", "end")
            elif base == "field":
                col = F.col(crit.split(":", 1)[1])
            elif base == "hit":
                col = F.array_join(
                    F.slice(toks, F.col("start") + 1, F.col("end") - F.col("start")),
                    " ",
                )
            elif base == "left":
                lstart = F.greatest(F.lit(0), F.col("start") - size) + 1
                col = F.array_join(
                    F.reverse(F.slice(toks, lstart, F.col("start") - lstart + 1)),
                    " ",
                )
            elif base == "right":
                col = F.array_join(
                    F.slice(
                        toks,
                        F.col("end") + 1,
                        F.greatest(
                            F.lit(0), F.least(F.size(toks) - F.col("end"), F.lit(size))
                        ),
                    ),
                    " ",
                )
            elif base == "wordleft":
                col = F.when(
                    F.col("start") > 0, F.element_at(toks, F.col("start"))
                ).otherwise(F.lit(""))
            elif base == "wordright":
                col = F.coalesce(
                    F.when(
                        F.col("end") < F.size(toks),
                        F.element_at(toks, F.col("end") + 1),
                    ),
                    F.lit(""),
                )
            elif base == "capture":
                name = crit.split(":")[1]
                s, e = F.col(f"cap_{name}_start"), F.col(f"cap_{name}_end")
                col = F.array_join(F.slice(F.col("_toks_word"), s + 1, e - s), " ")
            else:
                raise ValueError(f"unknown hit property: {crit!r}")
            df = df.withColumn(kc, col)
            keys.append(kc)
        return df, keys

    def sort_by(self, criteria: list[str]) -> "Hits":
        """Compound sort over any criterion list (HitPropertyMultiple),
        (doc,start,end) tie-break; a ``-`` prefix on a criterion
        reverses that part (reference PropertySerializeUtil
        serializeReverse)."""
        descs = [c.startswith("-") for c in criteria]
        stripped = [c.lstrip("-") for c in criteria]
        df, keys = self._with_keys(stripped)
        return self._sorted([F.col(k) for k in keys], base_df=df,
                            descs=descs)

    def group_by(self, criteria: list[str]) -> DataFrame:
        """Compound grouping over any criterion list: one groupBy over
        all keys (reference HitGroups.java + HitPropertyMultiple)."""
        df, keys = self._with_keys(criteria)
        out = df.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("size"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        names = []
        for k, crit in zip(keys, criteria):
            name = "".join(
                c if c.isalnum() or c == "_" else "_" for c in crit
            )
            out = out.withColumnRenamed(k, name)
            names.append(name)
        return out.orderBy(F.desc("size"), *names)

    def group_by_capture(self, name: str, annotation: str = "word") -> DataFrame:
        """Group hits by a named capture group's (desensitized) text
        (reference resultproperty/HitPropertyCaptureGroup): slice the
        doc's token array at the capture bounds — one doc_id equi-join,
        all codegen."""
        col = "tokens_i" if annotation in ("word", "") else f"ann_{annotation}"
        tk = self.corpus.context_store.select("doc_id", F.col(col).alias("_toks"))
        s, e = F.col(f"cap_{name}_start"), F.col(f"cap_{name}_end")
        j = self.df.join(tk, "doc_id").withColumn(
            "grp", F.array_join(F.slice("_toks", s + 1, e - s), " ")
        )
        return (
            j.groupBy("grp")
            .agg(F.count(F.lit(1)).alias("size"))
            .orderBy(F.desc("size"), "grp")
        )

    def group_by_metadata(self, *cols: str) -> DataFrame:
        """DocProperty grouping (reference DocGroups.java). Metadata
        columns beyond the canonical projection (XML-format meta_*
        fields) resolve from the tokenized table."""
        stats = self.corpus.doc_stats
        src = stats if all(c in stats.columns for c in cols) \
            else self.corpus.tokenized
        ds = src.select("doc_id", *cols)
        return (
            self.df.join(ds, "doc_id")
            .groupBy(*cols)
            .agg(
                F.count(F.lit(1)).alias("n_hits"),
                F.countDistinct("doc_id").alias("n_docs"),
            )
            .orderBy(F.desc("n_hits"), *cols)
        )

    def group_by_decade(self) -> DataFrame:
        """Group matched docs by decade of their timestamp (reference
        resultproperty/DocPropertyDecade.java — date metadata bucketed
        into decades)."""
        docs = self.df.select("doc_id").distinct().join(
            self.corpus.doc_stats.select("doc_id", "ts"), "doc_id"
        )
        decade = (F.year("ts") - F.year("ts") % 10).alias("decade")
        return (
            docs.select(decade)
            .groupBy("decade")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy("decade")
        )

    # -- doc view ---------------------------------------------------------------
    def per_doc(self) -> DataFrame:
        """DocResults (reference DocResults.java:40-110)."""
        return (
            self.df.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_hits"))
            .join(self.corpus.doc_stats, "doc_id")
            .orderBy(F.desc("n_hits"), "doc_id")
        )

    def facets(self, *cols: str) -> dict[str, DataFrame]:
        """Independent 1-D doc counts per criterion
        (reference Facets.java:9)."""
        docs = self.df.select("doc_id").distinct().join(self.corpus.doc_stats, "doc_id")
        return {
            c: docs.groupBy(c).agg(F.count(F.lit(1)).alias("n_docs")).orderBy(
                F.desc("n_docs"), c
            )
            for c in cols
        }

    # -- collocations -------------------------------------------------------------
    def collocations(
        self,
        size: int | None = None,
        annotation: str = "word",
        sensitive: bool = False,
    ) -> DataFrame:
        """Context-word frequencies around hits, hit text excluded,
        desensitized (reference TermFrequencyList.java:49-95; the BLS
        colloc calc takes the annotation/sensitivity to count,
        RequestHandlerHits.java annotation param)."""
        ctx = self.with_context(size, annotation, sensitive)
        words = ctx.select(
            F.explode(F.concat(F.col("left"), F.col("right"))).alias("term")
        )
        return (
            words.groupBy("term")
            .agg(F.count(F.lit(1)).alias("freq"))
            .orderBy(F.desc("freq"), "term")
        )


def term_frequencies(corpus, filter_expr: str | None = None,
                     sensitive: bool = False,
                     annotation: str = "word") -> DataFrame:
    """Corpus-wide term frequencies (reference BlackLabIndex.java:212,
    HitGroupsTokenFrequencies fast path :43-49 — when the 'query' is
    any-token, skip hit enumeration and aggregate the forward index
    directly; with no filter we read the precomputed terms dict).
    ``annotation`` picks which annotation's values are counted
    (reference WebserviceOperations.getTermFrequencies:521-535 takes
    the annotation name + sensitivity + optional doc filter) — served
    from that annotation's terms dict when it has a postings field,
    else one aggregation over the forward-index sidecar column."""
    if annotation == "word":
        if filter_expr is None and not sensitive:
            return corpus.terms.select(
                "term", F.col("df").alias("n_docs"), F.col("cf").alias("freq")
            ).orderBy(F.desc("freq"), "term")
        src = F.col("tokens" if sensitive else "tokens_i")
    else:
        field = f"{annotation}@{'s' if sensitive else 'i'}"
        if filter_expr is None and field in corpus.index_fields:
            return corpus.terms_for(field).select(
                "term", F.col("df").alias("n_docs"),
                F.col("cf").alias("freq"),
            ).orderBy(F.desc("freq"), "term")
        from blacklab_spark.analysis import desensitize_col

        src = F.col(f"ann_{annotation}")
        if not sensitive:
            src = F.transform(src, lambda t: desensitize_col(t, "i"))
    tk = corpus.tokenized
    if filter_expr:
        tk = tk.filter(filter_expr)
    return (
        tk.select("doc_id", F.explode(src).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"), F.countDistinct("doc_id").alias("n_docs"))
        .orderBy(F.desc("freq"), "term")
    )


def grouped_term_frequencies(corpus, meta_cols: list[str]) -> DataFrame:
    """FrequencyTool analogue: (word term × metadata) frequency table
    over the whole corpus (reference FrequencyTool.java:55-66) — thin
    ordered view over frequency.freq_list (the config-driven engine),
    keeping this surface's historical column names."""
    from blacklab_spark.search.frequency import freq_list

    return (
        freq_list(corpus, ["word"], meta_cols)
        .select(
            F.col("word").alias("term"),
            *meta_cols,
            F.col("frequency").alias("freq"),
        )
        .orderBy(F.desc("freq"), "term", *meta_cols)
    )


def export_csv(df: DataFrame, path: str | None = None, max_rows: int = 10_000):
    """hits-csv / docs-csv export (reference RequestHandlerCsv via
    RequestHandler.java:54-73 hits-csv/docs-csv endpoints). With a
    ``path``: a fully distributed CSV write (one file per partition —
    the scale path). Without: a driver-side CSV STRING bounded by
    ``max_rows`` (the interactive-response path; BLS responses are
    page-sized by contract)."""
    if path is not None:
        df.write.mode("overwrite").option("header", True).csv(path)
        return path
    return df.limit(max_rows).toPandas().to_csv(index=False)


def autocomplete(
    corpus, prefix: str, n: int = 20, annotation: str = "word"
) -> DataFrame:
    """Term-prefix completion (reference RequestHandlerAutocomplete.java,
    LuceneUtil.java:246 findTermsByPrefix on the requested annotation's
    insensitive field) — a range scan on that field's sorted terms
    dict when it has postings; an annotation without postings derives
    its vocabulary from a pruned forward-index scan (the reference
    requires an indexed field there — ours answers either way, the
    indexed route just prunes instead of scanning)."""
    from blacklab_spark.analysis import desensitize_col, desensitize_py
    from blacklab_spark.search.spans import _postings_route, token_positions

    a = annotation or "word"
    want = desensitize_py(prefix)
    route = _postings_route(corpus, a, "i")
    if route is not None and route[0] == "direct":
        src = corpus.terms_for(route[1]).filter(
            F.col("term").startswith(want)
        )
    elif route is not None:
        # only the sensitive field is indexed: prefix-match its dict
        # through the fold, return the RAW stored terms (the reference
        # completes from whichever sensitivity field exists)
        src = corpus.terms_for(route[1]).filter(
            desensitize_col(F.col("term"), "i").startswith(want)
        )
    else:
        src = (
            token_positions(corpus, a, sensitive=False)
            .filter(F.col("term").startswith(want))
            .groupBy("term")
            .agg(
                F.countDistinct("doc_id").alias("df"),
                F.count(F.lit(1)).alias("cf"),
            )
        )
    return src.orderBy("term").select("term", "df", "cf").limit(n)
