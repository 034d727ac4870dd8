"""eds.history: antecedent-vs-current qualification — cross-pipe,
reference-exact.

Parity target: edsnlp/pipes/qualifiers/history/history.py:339-597. The
reference computes, per termination-cut *boundary* (sub-sentence):

  history_cues  = history cue matches in the boundary
                ∪ history-section titles of sections the boundary ends in
                  (``s.start < b_end <= s.end``)
                ∪ "close" HISTORY-classified dates
  recent_cues   = "close" RECENT-classified dates
  history       = bool(history_cues) and not bool(recent_cues)

i.e. a recent date VETOES cue/section evidence (history.py:576). Every
section TITLE also acts as an extra termination cut (history.py:385).

Date classification (history.py:395-460):
  * relative, direction=current: recent iff granularity fits the limit
    (year→limit≥365d, month→≥30d, week→≥7d, day→always);
  * relative, direction=past: history iff duration ≥ limit, else recent
    (months=30d, years=365d per models.py:305-309);
  * absolute (requires note_datetime): recent iff note_dt − date <
    limit; else history, unless it equals ``birth_datetime`` and
    ``exclude_birthdate`` (history.py:453);
  * durations / future relatives: not evidence.

``closest_dates_only`` (history.py:493-546): a boundary first sees the
dates *overlapping it*; when a sentence-sharing date exists but none
overlaps, the single nearest (by |tok_start − b_start|) wins, recent
beating history on strict distance.

Spark design: every per-boundary decision folds into ONE per-note row —
sorted boundary / cue / section / classified-date arrays built by
groupBy("note_id"), flags computed with nested HOFs, then a single
equi-join probes entities (overlap + OR across boundaries, matching
consume_spans-with-second-chance + ``ent._.history or history``). No
join fan-out, no wide re-grouping; array sizes are bounded by note
content, so the shape holds at cluster scale.

Divergences (documented): ``use_sections``/``use_dates`` default True
here (False in the reference — the cross-pipe combine is this
operator's point); sub-day absolute precision uses the parsed time
suffix when present, else midnight.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .qualifiers import (HISTORY_CUES, QualifierEngine, _REGEX_CLASSES,
                         _boundaries, _cue_table)
from .sections import SectionSegmenter
from .. import registry
from ..functions.text import let_bound
from ..core import caching

# Superset gate for any text temporal_mentions could classify as
# history/recent evidence.  Every non-digit-bearing temporal pattern
# requires a specific day (hier/demain/aujourd'hui), a month name, or a
# unit word (letter-number relatives/durations/current all carry one),
# so gating on those word stems is lossless.  Word boundaries matter:
# a bare "an" substring admits "antecedents" and doubles the rows fed
# to the (Arrow-exact) regex scan.  Runs on RAW text, hence the
# accent-tolerant stems and the scoped (?i:...).
_DATE_GATE_RX = (
    r"(?i:\d|hier|demain|aujourd"
    r"|\bans?\b|\bann|\bmois\b|\bsemaine|\bsemestre|\btrimestre"
    r"|\bjour|\bheure|\bminute|\bmin\b|\bseconde|\bsec\b|\bh\b|\bs\b"
    r"|\bjanv|\bf[eé]v|\bmars?\b|\bmar\.|\bavr|\bmai\b|\bjuin\b"
    r"|\bjuil|\bao[uû]t|\bsept?\b|\bseptembre|\boct|\bnov|\bd[eé]c)"
)


class HistoryQualifier:
    qualifier = "history"  # the column qualify() writes

    def __init__(self, history_limit_days: int = 14,
                 cues: dict | None = None,
                 use_sections: bool = True,
                 use_dates: bool = True,
                 section_names: tuple[str, ...] = ("antecedents",),
                 sections: SectionSegmenter | None = None,
                 exclude_birthdate: bool = True,
                 closest_dates_only: bool = True,
                 attr: str = "NORM"):
        """``cues``: QualifierEngine-style class dict; history terms are
        read from the 'preceding'/'boundary'/'history' keys (reference
        history cues are boundary-scoped, history.py:560), terminations
        from 'termination'. Defaults to HISTORY_CUES (a documented
        superset of patterns.py:1-7)."""
        self.limit = history_limit_days
        self.use_sections = use_sections
        self.use_dates = use_dates
        self.exclude_birthdate = exclude_birthdate
        self.closest_dates_only = closest_dates_only
        src = cues or HISTORY_CUES
        hist_terms = [t for k in ("preceding", "boundary", "history")
                      for t in src.get(k, ())]
        self.engine = QualifierEngine(
            "history_cue",
            {"boundary": hist_terms,
             "termination": list(src.get("termination", ()))},
            attr=attr)
        self.section_names = section_names
        self.sections = sections or SectionSegmenter()

    # -- date evidence ---------------------------------------------------

    @caching.leased
    def date_table(self, notes: DataFrame) -> DataFrame:
        """Classified date evidence: one row per kept mention with
        (d_note, tok_s, tok_e, sent_s, sent_e, is_recent)."""
        from .dates import temporal_mentions
        gated = notes.filter(F.col("note_text").rlike(_DATE_GATE_RX))
        dm = temporal_mentions(gated)

        ctx_cols = ["note_id", "tokens", "sentences"]
        has_dt = "note_datetime" in notes.columns
        has_bd = "birth_datetime" in notes.columns
        if has_dt:
            ctx_cols.append("note_datetime")
        if has_bd:
            ctx_cols.append("birth_datetime")
        d = dm.join(gated.select(*ctx_cols), "note_id")

        from ..functions.memo import memo_column

        def _tok_sent_cols():
            # pure functions of column names (start_char/end_char/
            # tokens/sentences) — memoizable template (r15, the r4
            # memo_column rule: HOF construction is py4j-chatty and
            # identical across calls)
            sc, ec = F.col("start_char"), F.col("end_char")
            tok_s = F.size(F.filter("tokens", lambda t: t["end"] <= sc))
            tok_e = F.size(F.filter("tokens", lambda t: t["start"] < ec))
            sent = F.coalesce(
                F.element_at(F.filter(
                    "sentences",
                    lambda s: (s["tok_start"] <= tok_s)
                    & (tok_s < s["tok_end"])), 1),
                F.element_at("sentences", 1),
            )
            return (tok_s.cast("int").alias("tok_s"),
                    tok_e.cast("int").alias("tok_e"),
                    sent.alias("__sent"))

        tok_s_c, tok_e_c, sent_c = memo_column(
            ("history_date_tok_sent",), _tok_sent_cols)
        d = d.select(
            "note_id", "kind", "direction", "offset_seconds", "norm",
            *( ["note_datetime"] if has_dt else [] ),
            *( ["birth_datetime"] if has_bd else [] ),
            tok_s_c, tok_e_c, sent_c,
        )
        # Barrier: the date-classification projection below (regexp
        # component recovery + try_make_timestamp + recency whens) fused
        # with this join's doConsume overflows the 64 KB codegen limit;
        # persisting the compact mention plane keeps both stages
        # compiled (see temporal_mentions for the same pattern).
        d = caching.persist(d)

        from ..functions.memo import memo_column
        wc, keep, args = memo_column(
            ("date_classification", int(self.limit), has_dt, has_bd,
             bool(self.exclude_birthdate)),
            lambda: _date_classification(int(self.limit), has_dt, has_bd,
                                         bool(self.exclude_birthdate)))
        if wc:
            d = d.withColumns(wc)
        return d.filter(keep).select(*args)

    # -- main ------------------------------------------------------------

    @caching.leased
    def qualify(self, notes: DataFrame, entities: DataFrame) -> DataFrame:
        eng = self.engine

        # Merged cue + section-title scan (r4 VERDICT #5): the engine's
        # phrase cues and the section HEADER vocabulary are one
        # PhraseMatcher over one n-gram explode of the notes plane —
        # the exploded token plane is the expensive part, and two
        # separate scans paid it twice.  Section labels ride along under
        # a reserved prefix and are split back out.  Falls back to two
        # scans when the section matcher is regex-based ("reference"
        # mode) or the engine carries pseudo/regex classes (the
        # HistoryQualifier-built engine never does).
        from .matcher import PhraseMatcher
        mergeable = (
            self.use_sections
            and isinstance(self.sections._matcher, PhraseMatcher)
            and self.sections._matcher.attr == eng.attr
            and not {"pseudo", *_REGEX_CLASSES} & set(eng.cues)
            # the reserved section prefix must be unambiguous: a cue
            # class named '__sec__*' would be split out as a section
            # header after the merged scan (ADVICE r4) — fall back to
            # two separate scans instead of mislabeling
            and not any(c.startswith("__sec__") for c in eng.cues)
        )
        hist_secs = None
        if mergeable:
            merged = PhraseMatcher(
                {**{c: list(t) for c, t in eng.cues.items()},
                 **{"__sec__" + k: list(v)
                    for k, v in self.sections.sections.items()}},
                attr=eng.attr, span_type="cue")
            rows = caching.persist(merged.entities(notes))
            is_sec = F.col("label").startswith("__sec__")
            cues = rows.filter(~is_sec).select(
                "note_id", "tok_start", "tok_end",
                F.col("label").alias("cue_class"))
            headers = rows.filter(is_sec).withColumn(
                "label", F.expr("substring(label, 8)"))
            st = caching.persist(
                self.sections.sections_table(notes, headers=headers))
        else:
            cues = _cue_table([eng], [0], notes).drop("q", "b_set")
            st = caching.persist(self.sections.sections_table(notes)) \
                if self.use_sections else None

        if st is not None:
            # every section title start is an extra termination cut
            cues = cues.unionByName(st.select(
                "note_id", "tok_start",
                (F.col("tok_start") + 1).cast("int").alias("tok_end"),
                F.lit("termination").alias("cue_class")))
            hist_secs = st.filter(F.col("section").isin(*self.section_names))
        cues = caching.persist(cues)
        bounds = _boundaries(notes, cues.withColumn("b_set", F.lit(0)), 1)

        # Per-note evidence arrays in ONE shuffle (r4 VERDICT #5): every
        # evidence row (boundary / boundary-cue / section / classified
        # date) is tagged into a common shape and unioned, then a single
        # groupBy(note_id) builds all four arrays with filtered
        # collect_lists — this replaces 4 groupBy shuffles + 3 note_id
        # joins with 1 union + 1 shuffle (measured: qualify 2.6s ->
        # ~1.9s warm at sf0.1).  collect_list skips the nulls the
        # per-tag whens produce, and every downstream use of __cues /
        # __secs / __dates is order-insensitive (exists / filter / min).
        def _tagged(df, tag, i1, i2=None, i3=None, i4=None, fl=None):
            ni = F.lit(None).cast("int")
            return df.select(
                "note_id", F.lit(tag).alias("__t"),
                i1.cast("int").alias("i1"),
                (i2.cast("int") if i2 is not None else ni).alias("i2"),
                (i3.cast("int") if i3 is not None else ni).alias("i3"),
                (i4.cast("int") if i4 is not None else ni).alias("i4"),
                (fl if fl is not None
                 else F.lit(None).cast("boolean")).alias("fl"),
            )

        ev = _tagged(bounds, "b", F.col("b_start"), F.col("b_end"))
        ev = ev.unionByName(_tagged(
            cues.filter(F.col("cue_class") == "boundary"), "c",
            F.col("tok_start")))
        if hist_secs is not None:
            ev = ev.unionByName(_tagged(
                hist_secs, "s", F.col("tok_start"), F.col("tok_until")))
        if self.use_dates:
            ev = ev.unionByName(_tagged(
                self.date_table(notes).withColumnRenamed("d_note",
                                                         "note_id"),
                "d", F.col("tok_s"), F.col("tok_e"), F.col("sent_s"),
                F.col("sent_e"), F.col("is_recent")))

        t = F.col("__t")
        plane = ev.groupBy("note_id").agg(
            F.sort_array(F.collect_list(F.when(t == "b", F.struct(
                F.col("i1").alias("b_start"),
                F.col("i2").alias("b_end"))))).alias("__b"),
            F.collect_list(F.when(t == "c", F.col("i1"))).alias("__cues"),
            F.collect_list(F.when(t == "s", F.struct(
                F.col("i1").alias("s_from"),
                F.col("i2").alias("s_until")))).alias("__secs"),
            F.collect_list(F.when(t == "d", F.struct(
                F.col("i1").alias("tok_s"), F.col("i2").alias("tok_e"),
                F.col("i3").alias("sent_s"), F.col("i4").alias("sent_e"),
                F.col("fl").alias("is_recent")))).alias("__dates"),
        )

        empty_c = F.coalesce(F.col("__cues"),
                             F.expr("cast(array() as array<int>)"))
        empty_s = F.coalesce(
            F.col("__secs"),
            F.expr("cast(array() as array<struct<s_from:int,s_until:int>>)"))
        empty_d = F.coalesce(F.col("__dates"), F.expr(
            "cast(array() as array<struct<tok_s:int,tok_e:int,"
            "sent_s:int,sent_e:int,is_recent:boolean>>)"))
        closest = self.closest_dates_only

        # Every derived array (the sentence-sharing date subset, its
        # recent/history splits, the overlapping subset) is let-bound so
        # it is computed ONCE per boundary; naively referencing the
        # filter expressions duplicates their subtrees at every use and
        # the fused whole-stage method overflows the JVM 64 KB codegen
        # limit (observed: stage silently de-optimized to interpreted).
        def flag_fn(cue_arr: Column, sec_arr: Column, date_arr: Column):
            def flag(b: Column) -> Column:
                bs, be = b["b_start"], b["b_end"]
                has_cue = F.exists(cue_arr, lambda c: (c >= bs) & (c < be))
                has_sec = F.exists(
                    sec_arr,
                    lambda s: (s["s_from"] < be) & (be <= s["s_until"]))

                def finish(recent_p: Column, hist_p: Column) -> Column:
                    return F.struct(
                        bs.alias("b_start"), be.alias("b_end"),
                        ((has_cue | has_sec | hist_p)
                         & ~recent_p).alias("flag"))

                def with_sub(sub: Column) -> Column:
                    sub_r0 = F.filter(sub, lambda d: d["is_recent"])
                    sub_h0 = F.filter(sub, lambda d: ~d["is_recent"])
                    if not closest:
                        return finish(F.size(sub_r0) > 0, F.size(sub_h0) > 0)
                    inb0 = F.filter(
                        sub, lambda d: (d["tok_s"] < be) & (d["tok_e"] > bs))

                    def with_parts(sub_r, sub_h, inb):
                        in_r = F.size(F.filter(inb, lambda d: d["is_recent"]))
                        in_h = F.size(F.filter(inb, lambda d: ~d["is_recent"]))
                        mdr = F.array_min(F.transform(
                            sub_r, lambda d: F.abs(d["tok_s"] - bs)))
                        mdh = F.array_min(F.transform(
                            sub_h, lambda d: F.abs(d["tok_s"] - bs)))
                        both_sub = (F.size(sub_r) > 0) & (F.size(sub_h) > 0)
                        none_in = (in_r == 0) & (in_h == 0)
                        recent_p = F.when(
                            F.size(sub_r) == 0, F.lit(False)).otherwise(
                            F.when(F.size(sub_h) == 0, F.lit(True))
                            .when(none_in, mdr < mdh)
                            .otherwise(in_r > 0))
                        hist_p = F.when(
                            F.size(sub_h) == 0, F.lit(False)).otherwise(
                            F.when(F.size(sub_r) == 0, F.lit(True))
                            .when(none_in & both_sub, ~(mdr < mdh))
                            .otherwise(in_h > 0))
                        return finish(recent_p, hist_p)

                    return let_bound(sub_r0, lambda sub_r: let_bound(
                        sub_h0, lambda sub_h: let_bound(
                            inb0,
                            lambda inb: with_parts(sub_r, sub_h, inb))))

                sub0 = F.filter(
                    date_arr,
                    lambda d: (d["sent_s"] < be) & (d["sent_e"] > bs))
                return let_bound(sub0, with_sub)

            return flag

        # The per-boundary flag fold is a huge name-based expression
        # parameterized only by closest_dates_only — memoized per config
        # so repeated plan builds reuse the tree (functions/memo.py).
        from ..functions.memo import memo_column
        flags_col = memo_column(
            ("history_flags", closest),
            lambda: let_bound(empty_c, lambda cue_arr: let_bound(
                empty_s, lambda sec_arr: let_bound(
                    empty_d, lambda date_arr: F.transform(
                        "__b", flag_fn(cue_arr, sec_arr, date_arr)
                    )))))
        plane = plane.select("note_id", flags_col.alias("__flags"))

        ts, te = F.col("tok_start"), F.col("tok_end")
        hist = F.coalesce(
            F.exists("__flags",
                     lambda x: (ts < x["b_end"]) & (x["b_start"] < te)
                     & x["flag"]),
            F.lit(False))
        # one select instead of withColumn+drop: every extra API call on
        # top of the giant __flags tree re-analyzes it (r4 build-cost
        # finding)
        keep_cols = [c for c in entities.columns if c != "history"]
        return entities.join(plane, "note_id", "left").select(
            *keep_cols, hist.alias("history"))


def _date_classification(limit_days: int, has_dt: bool, has_bd: bool,
                         exclude_birthdate: bool):
    """Date-evidence classification expressions (history.py:395-460
    reference semantics), built once per config and memoized: returns
    (withColumns dict | None, keep filter, output select args).  Pure
    function of column names + the four config inputs."""
    lim_s = F.lit(limit_days * 86400).cast("bigint")
    is_current = (F.col("kind") == "relative") & \
        (F.col("direction") == "current")
    cur_unit = F.regexp_extract(F.col("norm"), r"^~0 (\w+)", 1)
    cur_recent = (
        ((cur_unit == "year") & (lim_s >= 365 * 86400))
        | ((cur_unit == "month") & (lim_s >= 30 * 86400))
        | ((cur_unit == "week") & (lim_s >= 7 * 86400))
        | (cur_unit == "day")
    )
    is_past = (F.col("kind") == "relative") & \
        (F.col("direction") == "past")
    past_recent = (-F.col("offset_seconds")) < lim_s

    # absolute: recover (y, m, d, hh, mm) from the placeholder norm
    # and apply to_datetime(infer_from_context=True, default_day=15,
    # default_month=1) inference (models.py:104-116, history.py:433)
    ny = F.regexp_extract("norm", r"^(\d{4})-", 1)
    nm = F.regexp_extract("norm", r"^[\d?]{4}-(\d{2})-", 1)
    nd = F.regexp_extract("norm", r"^[\d?]{4}-[\d?]{2}-(\d{2})", 1)
    nh = F.regexp_extract("norm", r" (\d{2})h", 1)
    nmin = F.regexp_extract("norm", r" \d{2}h(\d{2})m", 1)
    y_i = F.when(ny != "", ny.cast("int"))
    m_i = F.when(nm != "", nm.cast("int"))
    d_i = F.when(nd != "", nd.cast("int"))
    wc = None
    if has_dt:
        ndt = F.col("note_datetime").cast("timestamp")
        yy = F.coalesce(y_i, F.year(ndt))
        mm = F.coalesce(
            m_i,
            F.when(y_i.isNotNull() & d_i.isNull(), F.lit(1))
            .otherwise(F.month(ndt)))
        dd = F.coalesce(d_i, F.lit(15))
        abs_ts = F.expr(
            "try_make_timestamp(__y, __m, __d, __hh, __mi, 0D)")
        wc = {
            "__y": yy, "__m": mm, "__d": dd,
            "__hh": F.when(nh != "", nh.cast("int")).otherwise(F.lit(0)),
            "__mi": F.when(nmin != "", nmin.cast("int"))
                     .otherwise(F.lit(0)),
        }
        delta_s = (F.unix_timestamp(ndt)
                   - F.unix_timestamp(abs_ts)).cast("bigint")
        abs_ok = (F.col("kind") == "absolute") & abs_ts.isNotNull() \
            & ndt.isNotNull()
        abs_recent = delta_s < lim_s
        if exclude_birthdate and has_bd:
            bd_ts = F.col("birth_datetime").cast("timestamp")
            abs_birth = bd_ts.isNotNull() & (
                F.unix_timestamp(abs_ts) == F.unix_timestamp(bd_ts))
            abs_keep = abs_ok & (abs_recent | ~abs_birth)
        else:
            abs_keep = abs_ok
    else:
        abs_keep = F.lit(False)
        abs_recent = F.lit(False)

    is_recent = (
        F.when(is_current, cur_recent)
        .when(is_past, past_recent)
        .otherwise(abs_recent)
    )
    keep = (is_current & cur_recent) | is_past | abs_keep
    args = [
        F.col("note_id").alias("d_note"),
        "tok_s", "tok_e",
        F.col("__sent")["tok_start"].alias("sent_s"),
        F.col("__sent")["tok_end"].alias("sent_e"),
        is_recent.alias("is_recent"),
    ]
    return wc, keep, args


@registry.register("eds.history_full")
def _make_history(**kw):
    return HistoryQualifier(**kw)
