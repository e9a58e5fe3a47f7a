"""Canonical (subj, pred, obj) triple extraction from linked mentions.

Pattern semantics (pinned, SQL-expressible so the DuckDB oracle can
mirror them): within one sentence containing >= 2 linked mentions and a
recognized predicate phrase, emit ONE triple
    subj = entity of the first mention (min pos)
    obj  = entity of the last mention (max pos)
    pred = first predicate phrase found in the sentence text.

This replaces the reference's edge-document construction
({_from, _to, weight?} — graphalytics_importer.py:117-123,
edge_list.py:28-34) with provenance columns (url, warc_ts) required by
the north rule's lineage contract.

Everything is built-in aggregate functions (min_by/max_by/count) — one
hash aggregation, no UDF, no window.  Group key (url, sent_id) is
fine-grained and uniform: no skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_importer_spark.synth import PREDICATES


def detect_predicate(sentence_col, predicates: dict[str, str] | None = None):
    """CASE chain: first matching phrase (word-bounded) -> predicate id.

    Phrase list is tiny and fixed; a literal when-chain keeps this inside
    whole-stage codegen (vs a join it would shuffle nothing anyway, but
    the chain also preserves 'first phrase wins' priority order).
    """
    predicates = predicates or PREDICATES
    expr = None
    for pid, phrase in predicates.items():
        cond = sentence_col.rlike(rf"(^|\s){phrase}(\s|$|[.,;:!?])".replace(" ", r"\s"))
        expr = F.when(cond, F.lit(pid)) if expr is None else expr.when(cond, F.lit(pid))
    return expr


def sentence_predicate(
    predicates: dict[str, str] | None = None, default_pred: str | None = None
):
    """Predicate id of the ``sentence`` column: its first predicate
    phrase, else ``default_pred``; null means the sentence can emit no
    triple."""
    pred = detect_predicate(F.col("sentence"), predicates)
    return pred if default_pred is None else F.coalesce(pred, F.lit(default_pred))


def extract_triples(
    linked: DataFrame,
    sentences: DataFrame,
    pages: DataFrame,
    predicates: dict[str, str] | None = None,
    default_pred: str | None = None,
) -> DataFrame:
    """linked(url, sent_id, pos, entity) x sentences(url, sent_id,
    sentence) x pages(url, warc_ts) -> (subj, pred, obj, url, warc_ts).

    ``default_pred``: when set, sentences with >= 2 linked mentions but
    no recognized predicate phrase still emit a co-occurrence triple
    with this predicate id (the mention-co-occurrence edge set that
    feeds canonicalization).
    """
    ends = linked.groupBy("url", "sent_id").agg(
        F.min_by("entity", "pos").alias("subj"),
        F.max_by("entity", "pos").alias("obj"),
        F.count("*").alias("n_mentions"),
    )
    preds = sentences.select(
        "url", "sent_id", sentence_predicate(predicates, default_pred).alias("pred")
    ).filter(F.col("pred").isNotNull())
    out = (
        ends.filter(F.col("n_mentions") >= 2)
        .join(preds, ["url", "sent_id"], "inner")
        .join(pages.select("url", "warc_ts"), "url", "inner")
        .select("subj", "pred", "obj", "url", "warc_ts")
    )
    return out


def negative_samples(
    triples: DataFrame,
    n_per_positive: int = 1,
    seed: int = 42,
    entity_ranks: DataFrame | None = None,
) -> DataFrame:
    """Deterministic corrupt-tail negative sampling for KG-embedding
    training (the TransE-family regime, Bordes et al. 2013): for each
    positive (subj, pred, obj) emit ``n_per_positive`` corrupted
    triples (subj, pred, neg_obj) with neg_obj drawn pseudo-randomly
    from the graph's object vocabulary, then anti-join the true triple
    set so no negative is accidentally a positive (filtered negative
    sampling).

    Determinism: neg_obj is the vocabulary entry at index
    ``uint32(md5(subj|pred|obj|j|seed)) mod |E|`` — a pure function of
    the triple, stable across partitionings (df.sample's
    per-partition RNG is exactly what this avoids; see sampling.py's
    module note).  Uniformity over the vocabulary holds for ANY
    bijection entity <-> [0, |E|); which bijection is in play is the
    caller's choice:

    * ``entity_ranks=None`` (default): ``ids.dense_ids`` over the
      distinct objects — the 10^12-scale path (two-pass, no global
      sort), deterministic for a fixed shuffle-partition count but not
      SQL-replayable.
    * an explicit ``(neg_obj, _rank)`` table — training jobs already
      hold an entity dictionary; pass it for cross-engine-replayable
      picks (the contract row does this with a sorted rank).

    Scale shape: the vocabulary is ~|E| rows — broadcast against the
    positives x n_per_positive fan-out; the safety filter is one
    anti-join on the triple key.  Corruptions colliding with a
    positive are DROPPED, not resampled (resampling needs a loop; the
    drop rate is ~degree/|E|, negligible at KG scale and exactly
    reproducible).

    Returns (subj, pred, obj, neg_obj, j).
    """
    if entity_ranks is None:
        from graph_importer_spark.operators.ids import dense_ids

        entity_ranks = dense_ids(
            triples.select(F.col("obj")).distinct(), "obj"
        ).select(F.col("obj").alias("neg_obj"), F.col("id").alias("_rank"))
    ents = entity_ranks.select("neg_obj", "_rank")
    n_ents = ents.count()
    fanned = triples.select("subj", "pred", "obj").distinct().select(
        "subj",
        "pred",
        "obj",
        F.explode(F.sequence(F.lit(0), F.lit(n_per_positive - 1))).alias("j"),
    )
    pick = F.conv(
        F.substring(
            F.md5(
                F.encode(
                    F.concat_ws(
                        "|",
                        "subj",
                        "pred",
                        "obj",
                        F.col("j").cast("string"),
                        F.lit(str(seed)),
                    ),
                    "UTF-8",
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint") % F.lit(n_ents)
    cand = fanned.withColumn("_rank", pick).join(F.broadcast(ents), "_rank")
    true_set = triples.select(
        "subj", "pred", F.col("obj").alias("neg_obj")
    ).distinct()
    return cand.join(
        true_set, ["subj", "pred", "neg_obj"], "left_anti"
    ).select("subj", "pred", "obj", "neg_obj", "j")


def triple_confidence(
    scored: DataFrame, score_col: str = "score", decimals: int = 6
) -> DataFrame:
    """Per-evidence-row scored triples (subj, pred, obj, score) ->
    one row per distinct triple with aggregate confidence:

    * ``n_evidence`` — how many independent mentions emitted it;
    * ``max_score`` — the strongest single evidence;
    * ``noisy_or`` — 1 - prod(1 - p_i), the standard independent-
      evidence combiner for KG construction (each mention is an
      independent chance the triple is true).

    The product runs as ``exp(sum(ln(1 - p)))`` — an algebraic SUM
    aggregate (map-side partials, order-insensitive up to float
    rounding, hence the round) instead of a sequential product.
    Scores are clamped to <= 1 - 1e-12 so a certain (p = 1) evidence
    row yields noisy_or ~ 1 rather than ln(0).

    Scale: one groupBy on the triple key; Zipf-popular triples (the
    same fact asserted on millions of pages) are exactly the hot keys
    partial aggregation absorbs before the exchange.
    """
    p = F.least(F.col(score_col).cast("double"), F.lit(1.0 - 1e-12))
    return scored.groupBy("subj", "pred", "obj").agg(
        F.count("*").alias("n_evidence"),
        F.round(F.max(p), decimals).alias("max_score"),
        F.round(1.0 - F.exp(F.sum(F.log(1.0 - p))), decimals).alias("noisy_or"),
    )


def predicate_stats(triples: DataFrame, decimals: int = 6) -> DataFrame:
    """Per-predicate schema statistics over (subj, pred, obj) —
    the PARIS functionality / inverse-functionality measures
    (Suchanek, Abiteboul, Senellart, VLDB'12) used to decide whether a
    relation behaves like a function during ontology alignment and to
    sanity-check extracted KGs (a 'born_in' with functionality 0.2 is
    an extraction bug):

    * ``n_facts``   — distinct (subj, obj) pairs asserted for the pred;
    * ``n_subj`` / ``n_obj`` — distinct subjects / objects;
    * ``functionality``  = n_subj / n_facts  (1.0 = each subject has
      one object — the relation is a function);
    * ``inv_functionality`` = n_obj / n_facts.

    Scale: one dedup of the triple key then one groupBy(pred) with
    count-distinct expanding to two-level partial aggregates; pred is
    low-cardinality but the first-level group key (pred, subj/obj) is
    fine-grained, so Zipf-heavy predicates are absorbed map-side before
    the |preds|-row exchange.
    """
    facts = triples.select("subj", "pred", "obj").distinct()
    return facts.groupBy("pred").agg(
        F.count("*").alias("n_facts"),
        F.countDistinct("subj").alias("n_subj"),
        F.countDistinct("obj").alias("n_obj"),
        F.round(F.countDistinct("subj") / F.count("*"), decimals).alias(
            "functionality"
        ),
        F.round(F.countDistinct("obj") / F.count("*"), decimals).alias(
            "inv_functionality"
        ),
    )


def _iri_escape(col):
    """Minimal IRI-safe escaping for synthetic entity/predicate ids:
    percent-encode the characters the N-Triples grammar forbids inside
    <...> (space, quote, angle brackets, backslash, pipe, caret,
    backtick).  A replace chain stays in whole-stage codegen; full
    RFC 3987 escaping would need a UDF and is out of scope for ids we
    mint ourselves."""
    out = col
    for ch, pct in (
        ("\\", "%5C"), (" ", "%20"), ('"', "%22"), ("<", "%3C"),
        (">", "%3E"), ("|", "%7C"), ("^", "%5E"), ("`", "%60"),
    ):
        out = F.replace(out, F.lit(ch), F.lit(pct))
    return out


def to_nquads(
    triples: DataFrame, base: str = "http://kg.invalid"
) -> DataFrame:
    """Serialize (subj, pred, obj, url) into canonical N-Quads lines —
    the interchange materialization next to the Iceberg vertex/edge
    tables (the reference materializes into ArangoDB collections,
    edge_list.py:28-34; an RDF dump is the vendor-neutral equivalent).

    Line = '<base/s> <base/p> <base/o> <url> .' with grammar-forbidden
    characters percent-escaped; ``line_md5`` gives a stable per-line
    fingerprint so dumps diff cheaply.  Pure codegen string expressions
    (concat + replace) — zero shuffle, scales as a map-only pass; write
    with ``df.select('line').write.text(...)`` partitioned however the
    sink wants.
    """
    s = _iri_escape(F.col("subj"))
    p = _iri_escape(F.col("pred"))
    o = _iri_escape(F.col("obj"))
    g = _iri_escape(F.col("url"))
    line = F.concat(
        F.lit(f"<{base}/entity/"), s,
        F.lit(f"> <{base}/prop/"), p,
        F.lit(f"> <{base}/entity/"), o,
        F.lit("> <"), g, F.lit("> ."),
    )
    return triples.select(
        "subj", "pred", "obj", "url",
        line.alias("line"),
        F.md5(F.encode(line, "UTF-8")).alias("line_md5"),
    )


def chain_pattern(
    triples: DataFrame, preds: list[str], distinct: bool = True
) -> DataFrame:
    """SPARQL basic-graph-pattern CHAIN over (subj, pred, obj):
    ?v0 p1 ?v1 . ?v1 p2 ?v2 . ... -> one column per variable
    (v0..vN).  The workhorse query shape a constructed KG serves
    (``director_of/starred_in``-style 2-3 hop lookups); the reference
    delegates these to ArangoDB's AQL traversals after import — here
    the chain IS the DataFrame plan.

    Scale shape: each hop filters pred = p_i FIRST — a predicate
    equality Spark pushes into the triple scan (at rest the triple
    table is partitioned by pred, so this is partition pruning, see
    SCALE.md) — then equi-joins on the shared variable.  With
    ``distinct`` (the default), each hop DEDUPS to its distinct
    (subj, obj) fact pairs BEFORE joining: extraction emits one row
    per EVIDENCE (the same fact asserted on millions of pages), and
    joining evidence rows on a shared entity multiplies
    evidence_a x evidence_b per entity — measured 77 s vs ~1 s at
    sf0.1 on a 100-value join key.  Fact-level dedup bounds every
    intermediate by the distinct fact count and makes the final rows
    unique by construction (no terminal distinct needed).  Join keys
    are entity ids: Zipf-hot entities are AQE skew-join territory.
    No window, no UDF; an n-hop chain is n-1 shuffles over per-
    predicate fact sets.  ``distinct=False`` keeps evidence
    multiplicity for callers that weight paths by support.
    """
    if not preds:
        raise ValueError("preds must be non-empty")

    def hop_of(p: str, i: int) -> DataFrame:
        h = triples.filter(F.col("pred") == p).select(
            F.col("subj").alias(f"v{i}"), F.col("obj").alias(f"v{i + 1}")
        )
        return h.distinct() if distinct else h

    out = hop_of(preds[0], 0)
    for i, p in enumerate(preds[1:], start=1):
        out = out.join(hop_of(p, i), f"v{i}")
    cols = [f"v{i}" for i in range(len(preds) + 1)]
    return out.select(*cols)


def entity_summary(triples: DataFrame, k: int = 5, decimals: int = 6) -> DataFrame:
    """Top-k facts per subject entity, ranked by predicate
    informativeness — the entity-card query a constructed KG serves on
    every lookup (RELIN/FACES-style ranking, simplified to the
    predicate-rarity term): score(fact) = ln(N_facts / n_pred), so
    facts asserted through RARE predicates outrank boilerplate ones.

    -> (subj, pred, obj, score), exactly k rows per subject (fewer if
    the entity has fewer facts); ties break on (pred, obj) so the row
    set is deterministic and oracle-replayable.

    Scale shape: predicate stats are a |preds|-row broadcast; the only
    per-entity state is the top-k itself — ranking routes through
    skew.salted_topk (two-phase bucketed top-k), so a hub entity with
    10^7 facts never sorts its full fact set inside one task, the
    exact trap a subj-partitioned window would hit.
    """
    facts = triples.select("subj", "pred", "obj").distinct()
    pstats = facts.groupBy("pred").agg(F.count("*").alias("pn"))
    total = facts.agg(F.count("*").alias("tn"))
    scored = (
        facts.join(F.broadcast(pstats), "pred")
        .crossJoin(F.broadcast(total))
        .select(
            "subj",
            "pred",
            "obj",
            F.round(F.log(F.col("tn") / F.col("pn")), decimals).alias("score"),
            F.concat_ws("|", "pred", "obj").alias("tb"),
        )
    )
    from graph_importer_spark.operators.skew import salted_topk

    top = salted_topk(
        scored, key="subj", order_col="score", tiebreak="tb", k=k,
        payload=["pred", "obj"],
    )
    return top.select("subj", "pred", "obj", F.col("score"))


def fact_fusion(
    triples: DataFrame,
    source_weights: DataFrame,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    source: str = "source",
    weight: str = "weight",
    decimals: int = 6,
) -> DataFrame:
    """Truth discovery / knowledge fusion: the web emits CONFLICTING
    claims for the same (subj, pred) — different pages give different
    birthplaces — and KG construction must pick one.  Weighted source
    voting (the Knowledge Vault / TruthFinder baseline): each distinct
    (source, subj, pred, obj) claim contributes its source's
    reliability weight; per (subj, pred) the object with the highest
    total weight wins, ties broken by lexicographically LARGEST object
    (a total order — fusion must be deterministic to be resumable).

    -> (subj, pred, obj, total_weight, n_sources).

    Scale shape: claims dedup to distinct (source,s,p,o) map-side; the
    per-(s,p,o) weight sum and the per-(s,p) argmax are both partial-
    agg absorbed (hot facts — celebrity entities — collapse before the
    shuffle); source weights are a tiny broadcast dim.  No windows:
    the argmax is ``max_by`` over a (weight, obj) ordering struct.
    """
    claims = (
        triples.select(subj, pred, obj, source)
        .distinct()
        .join(F.broadcast(source_weights), source, "inner")
    )
    votes = claims.groupBy(subj, pred, obj).agg(
        F.round(F.sum(weight), decimals).alias("total_weight"),
        F.countDistinct(source).alias("n_sources"),
    )
    row = F.struct(
        F.col(obj).alias("obj"),
        F.col("total_weight").alias("total_weight"),
        F.col("n_sources").alias("n_sources"),
    )
    order = F.struct(
        F.col("total_weight").alias("w"), F.col(obj).alias("o")
    )
    return (
        votes.groupBy(subj, pred)
        .agg(F.max_by(row, order).alias("_r"))
        .select(
            subj,
            pred,
            F.col("_r.obj").alias(obj),
            F.col("_r.total_weight").alias("total_weight"),
            F.col("_r.n_sources").cast("long").alias("n_sources"),
        )
    )


def provenance(
    triples: DataFrame,
    k: int = 3,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    source: str = "source",
) -> DataFrame:
    """Per-fact provenance rollup: every emitted (subj, pred, obj)
    carries how many distinct sources assert it and the first ``k``
    source ids (sorted, comma-joined) — the audit trail a production
    KG publishes next to each triple (and the evidence count
    :func:`triple_confidence` and :func:`fact_fusion` score from).

    -> (subj, pred, obj, n_sources, sources).

    Scale shape: ONE fact-keyed aggregate; the count is partial-agg
    absorbed.  The sample list uses collect_set, whose per-key state
    is the DISTINCT source set — bounded by the source universe
    (hosts), not by row count; a celebrity fact asserted by millions
    of pages on the same few thousand hosts carries thousands of
    entries, not millions.  If sources are per-URL rather than
    per-host, pre-project to the host (urls.host_of) before calling —
    the k-sample is a display field, not an analytical surface.
    """
    return triples.groupBy(subj, pred, obj).agg(
        F.countDistinct(source).alias("n_sources"),
        F.array_join(
            F.slice(F.array_sort(F.collect_set(source)), 1, k), ","
        ).alias("sources"),
    )


def star_pattern(
    triples: DataFrame,
    subject_var: str,
    required: list[str],
    optional: list[str] | None = None,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
) -> DataFrame:
    """SPARQL star-shaped BGP with OPTIONAL clauses: bind every
    subject that has ALL ``required`` predicates, carrying each
    predicate's object as a column; ``optional`` predicates LEFT-join
    (SPARQL OPTIONAL semantics — unbound becomes NULL, the row
    survives).  The entity-card / infobox query shape, complementary
    to :func:`chain_pattern` (paths).

    Multiplicity follows SPARQL: each hop joins DISTINCT facts, so a
    subject with two objects for a required predicate yields two rows
    (the cartesian of its bindings).

    -> (subject_var, <one column per predicate, named by predicate>).

    Scale shape: per-predicate filters push to the (pred-partitioned)
    triple scan BEFORE any join; n predicates = n-1 subject-keyed
    equi-joins.  Celebrity subjects are AQE skew-join territory; the
    left-deep join order puts required (selective) predicates first
    so OPTIONAL nulls never inflate intermediate results.
    """
    if not required:
        raise ValueError("star_pattern needs at least one required predicate")

    def _hop(p: str) -> DataFrame:
        return (
            triples.filter(F.col(pred) == p)
            .select(F.col(subj).alias(subject_var), F.col(obj).alias(p))
            .distinct()
        )

    out = _hop(required[0])
    for p in required[1:]:
        out = out.join(_hop(p), subject_var, "inner")
    for p in optional or []:
        out = out.join(_hop(p), subject_var, "left")
    return out


def constraint_audit(
    triples: DataFrame,
    functional: list[str],
    ranges: dict[str, str] | None = None,
    types: DataFrame | None = None,
    k: int = 3,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
) -> DataFrame:
    """Ontology constraint audit over emitted triples — the validation
    pass a KG-construction pipeline runs before publishing (the
    reference loads edges unvalidated, edge_list.py:28-34; a production
    importer gates on schema constraints, cf. SHACL / OWL cardinality
    and range axioms).

    Two constraint families:

    * **functional** predicates (OWL FunctionalProperty): a subject may
      assert at most ONE distinct object; a subject with >= 2 distinct
      objects for the predicate is a violation.
    * **ranges**: predicate -> required object type.  ``types`` is an
      (entity, type) assertion table; an object whose asserted type
      differs from the required one — or that has NO type assertion —
      violates the range.

    -> (subj, pred, violation, n_bad, sample): ``violation`` is
    'functional' | 'range', ``n_bad`` counts distinct offending
    objects, ``sample`` carries the first ``k`` (sorted, comma-joined)
    for the audit report.

    Scale shape: the functional check is ONE (subj, pred)-keyed
    aggregate; count_distinct partial-aggregates map-side, and the
    collect_set state is bounded by per-fact object cardinality — the
    very quantity the constraint bounds (pathological subjects ARE the
    violations being reported, and the k-slice caps what is carried to
    the report).  The range check filters to the constrained
    predicates FIRST (the predicate filter reaches the scan), then
    LEFT-joins the (entity, type) table on the object key — a plain
    equi-join Spark broadcasts when the type table is small and AQE
    skew-handles otherwise — then re-aggregates per (subj, pred).  No
    windows, no cross joins.
    """
    p = F.col(pred)

    def _rollup(df: DataFrame, tag: str) -> DataFrame:
        return (
            df.groupBy(subj, pred)
            .agg(
                F.countDistinct(obj).alias("n_bad"),
                F.array_join(
                    F.slice(F.array_sort(F.collect_set(obj)), 1, k), ","
                ).alias("sample"),
            )
            .select(
                subj, pred, F.lit(tag).alias("violation"), "n_bad", "sample"
            )
        )

    fun = _rollup(
        triples.filter(p.isin(functional)).select(subj, pred, obj).distinct(),
        "functional",
    ).filter(F.col("n_bad") >= 2)
    if not ranges:
        return fun

    if types is None:
        raise ValueError("ranges given but no (entity, type) table")
    required_type = F.create_map(*[F.lit(x) for kv in ranges.items() for x in kv])
    bad = (
        triples.filter(p.isin(list(ranges)))
        .select(subj, pred, obj)
        .distinct()
        .join(
            types.select(F.col("entity").alias(obj), F.col("type").alias("_ty")),
            obj,
            "left",
        )
        .filter(F.col("_ty").isNull() | (F.col("_ty") != required_type[p]))
        .drop("_ty")
    )
    return fun.unionByName(_rollup(bad, "range"))


def dangling_edges(
    edges: DataFrame,
    vertices: DataFrame,
    src: str = "subj",
    dst: str = "obj",
    vid: str = "id",
) -> DataFrame:
    """Referential-integrity audit of a materialized graph: edges
    whose endpoint is missing from the vertex table — the dangling
    `_from`/`_to` references ArangoDB rejects at insert time
    (edge_list.py:28-34 relies on the server for this; a lakehouse
    graph must self-check before publishing).

    -> the offending edge rows + ``missing`` ('src' | 'dst' | 'both').

    Scale shape: two endpoint-keyed LEFT joins against the vertex-id
    projection (broadcast when the vertex table is small, AQE
    otherwise) and a null filter — no aggregation, streaming-friendly.
    """
    v = vertices.select(F.col(vid).alias("_v")).distinct()
    out = (
        edges.join(
            v.withColumnRenamed("_v", src).withColumn("_has_s", F.lit(1)),
            src,
            "left",
        )
        .join(
            v.withColumnRenamed("_v", dst).withColumn("_has_d", F.lit(1)),
            dst,
            "left",
        )
        .filter(F.col("_has_s").isNull() | F.col("_has_d").isNull())
        .withColumn(
            "missing",
            F.when(
                F.col("_has_s").isNull() & F.col("_has_d").isNull(), "both"
            )
            .when(F.col("_has_s").isNull(), "src")
            .otherwise("dst"),
        )
        .drop("_has_s", "_has_d")
    )
    return out


def inverse_predicates(
    triples: DataFrame,
    min_support: int = 10,
    min_ratio: float = 0.5,
    decimals: int = 6,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
) -> DataFrame:
    """Inverse-predicate detection (the PARIS ontology-alignment
    relation heuristic, Suchanek et al. VLDB 2012): predicates p, q
    where q(o, s) holds for most asserted p(s, o) — 'parent_of' vs
    'child_of', 'cites' vs 'cited_by'.  Merging inverse pairs halves
    redundant storage and is a standard KG normalization pass.

    score(p, q) = |{(s,o): p(s,o) AND q(o,s)}| / |p| — the directed
    containment of p's pairs in q's inverse.  Emits (p, q, n_p,
    n_overlap, ratio) with n_overlap >= min_support and ratio >=
    min_ratio; p = q allowed (symmetric predicates score themselves).

    Scale shape: ONE (entity-pair)-keyed self-join of the distinct
    fact table against its own swap (join keys are (subj, obj) pairs
    — fine-grained), then a (p, q) aggregate; predicate sizes ride a
    broadcast |preds|-row dim.  Zipf head entities are AQE skew
    territory, as with every fact-keyed join here.
    """
    facts = triples.select(subj, pred, obj).distinct()
    swapped = facts.select(
        F.col(obj).alias(subj), F.col(pred).alias("_q"), F.col(subj).alias(obj)
    )
    ov = (
        facts.join(swapped, [subj, obj])
        .groupBy(F.col(pred).alias("p"), F.col("_q").alias("q"))
        .agg(F.count("*").alias("n_overlap"))
    )
    sizes = facts.groupBy(F.col(pred).alias("p")).agg(F.count("*").alias("n_p"))
    return (
        ov.join(F.broadcast(sizes), "p")
        .select(
            "p",
            "q",
            "n_p",
            "n_overlap",
            F.round(F.col("n_overlap") / F.col("n_p"), decimals).alias("ratio"),
        )
        .filter(
            (F.col("n_overlap") >= min_support) & (F.col("ratio") >= min_ratio)
        )
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
) -> DataFrame:
    """Per-predicate churn between two KG snapshots: how many facts
    each predicate added, removed, and kept — the release-notes table
    a pipeline publishes per snapshot (and the regression alarm when a
    predicate's removed-count spikes).  The KG-shaped specialization
    of diffing.dataset_diff (which is row/column generic).

    -> (pred, n_added, n_removed, n_unchanged).

    Scale shape: ONE full-outer equi-join of the two distinct fact
    sets on (subj, pred, obj) — at equal snapshot layouts (both
    bucketed by fact key, tables.py) this is the shuffle-free diff —
    then a predicate-keyed partial aggregate over 0/1 flags.
    """
    o = old.select(subj, pred, obj).distinct().withColumn("_o", F.lit(1))
    n = new.select(subj, pred, obj).distinct().withColumn("_n", F.lit(1))
    j = o.join(n, [subj, pred, obj], "full")
    return (
        j.groupBy(F.col(pred))
        .agg(
            F.sum(
                F.when(F.col("_o").isNull(), 1).otherwise(0)
            ).cast("long").alias("n_added"),
            F.sum(
                F.when(F.col("_n").isNull(), 1).otherwise(0)
            ).cast("long").alias("n_removed"),
            F.sum(
                F.when(F.col("_o").isNotNull() & F.col("_n").isNotNull(), 1)
                .otherwise(0)
            ).cast("long").alias("n_unchanged"),
        )
    )


def numeric_outliers(
    triples: DataFrame,
    z_threshold: float = 3.0,
    decimals: int = 6,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
) -> DataFrame:
    """Per-predicate numeric-literal outlier audit: facts whose value
    sits more than ``z_threshold`` standard deviations from the
    predicate's mean — the unit-error detector (a 'population' of
    8,000,000,000 on a city, a price in cents amid dollars) every KG
    ingestion runs over numeric properties before publishing.

    ``obj`` must be numeric-castable; non-castable rows drop (they are
    a constraint_audit matter, not an outlier one).  Mean/std are
    computed from DECIMAL sums (exact, order-insensitive addition)
    and only converted to double at the end, so the flagged set is
    partition-invariant and replayable.

    -> (pred, subj, value, z) for |z| > threshold; z rounded.

    Scale shape: one predicate-keyed aggregate (count/sum/sum-of-
    squares — all partial-agg) broadcast back as a |preds|-row dim
    joined on the predicate key; the flag is a codegen filter.  Hot
    predicates partial-aggregate map-side.
    """
    v = F.col(obj).cast("decimal(18,4)")
    base = triples.select(
        F.col(pred), F.col(subj), v.alias("_v")
    ).filter(F.col("_v").isNotNull())
    stats = base.groupBy(pred).agg(
        F.count("*").alias("_n"),
        F.sum("_v").cast("decimal(38,4)").alias("_s"),
        F.sum(F.col("_v") * F.col("_v")).cast("decimal(38,8)").alias("_ss"),
    )
    mean = F.col("_s").cast("double") / F.col("_n")
    var = F.col("_ss").cast("double") / F.col("_n") - mean * mean
    std = F.sqrt(F.greatest(var, F.lit(0.0)))
    z = (F.col("_v").cast("double") - mean) / std
    return (
        base.join(F.broadcast(stats), pred)
        .filter((F.col("_n") >= 2) & (std > 0) & (F.abs(z) > z_threshold))
        .select(
            pred,
            subj,
            F.col("_v").cast("double").alias("value"),
            F.round(z, decimals).alias("z"),
        )
    )


def normalize_literals(
    triples: DataFrame,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
) -> DataFrame:
    """Literal canonicalization for scraped object values — the
    unit-normal form pass between extraction and fusion (two sources
    asserting '12,000' and '12k' must agree before fact_fusion votes).
    Documented rule subset, all regexp codegen:

    * thousands separators: '12,345,678' -> '12345678'
    * integer magnitude suffixes: '12k'/'12K' -> '12000',
      '3m'/'3M' -> '3000000' (integers only — fractional magnitudes
      are left alone rather than risk float formatting drift)
    * US month-name dates: 'Jan 5, 1997' -> '1997-01-05'
    * everything else unchanged.

    -> (subj, pred, obj, obj_norm, rule) with rule in
    ('thousands', 'suffix_k', 'suffix_m', 'date_mdy', 'none').

    Scale shape: pure regexp/CASE codegen on the scan — zero shuffle,
    zero UDF.
    """
    o = F.col(obj)
    months = {
        "jan": "01", "feb": "02", "mar": "03", "apr": "04", "may": "05",
        "jun": "06", "jul": "07", "aug": "08", "sep": "09", "oct": "10",
        "nov": "11", "dec": "12",
    }
    thousands = o.rlike(r"^[0-9]{1,3}(,[0-9]{3})+$")
    suf_k = o.rlike(r"^[0-9]+[kK]$")
    suf_m = o.rlike(r"^[0-9]+[mM]$")
    date_re = (
        r"^(Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec) "
        r"([0-9]{1,2}), ([0-9]{4})$"
    )
    date_mdy = o.rlike(date_re)
    month_num = None
    mon = F.lower(F.regexp_extract(o, date_re, 1))
    for name, num in months.items():
        month_num = (
            F.when(mon == name, F.lit(num))
            if month_num is None
            else month_num.when(mon == name, F.lit(num))
        )
    norm = (
        F.when(thousands, F.regexp_replace(o, ",", ""))
        .when(suf_k, F.concat(F.regexp_extract(o, r"^([0-9]+)", 1), F.lit("000")))
        .when(
            suf_m,
            F.concat(F.regexp_extract(o, r"^([0-9]+)", 1), F.lit("000000")),
        )
        .when(
            date_mdy,
            F.concat(
                F.regexp_extract(o, date_re, 3), F.lit("-"), month_num,
                F.lit("-"), F.lpad(F.regexp_extract(o, date_re, 2), 2, "0"),
            ),
        )
        .otherwise(o)
    )
    rule = (
        F.when(thousands, F.lit("thousands"))
        .when(suf_k, F.lit("suffix_k"))
        .when(suf_m, F.lit("suffix_m"))
        .when(date_mdy, F.lit("date_mdy"))
        .otherwise(F.lit("none"))
    )
    return triples.select(
        subj, pred, obj, norm.alias("obj_norm"), rule.alias("rule")
    )


def truth_discovery(
    claims: DataFrame,
    source: str = "source",
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    decimals: int = 6,
) -> DataFrame:
    """Two-step truth discovery (the TruthFinder/accu-vote family, Yin
    et al. TKDE 2008, simplified to a deterministic closed form):

    1. naive fact confidence = voter count / total votes on the
       (subj, pred) question;
    2. source trust = its mean step-1 confidence (sources that agreed
       with majorities earn trust);
    3. trusted fact score = sum of its voters' trusts; winner per
       (subj, pred) = highest score (ties -> greater obj).

    Unlike plain majority vote (fact_fusion with unit weights), a
    source that is reliably right on easy questions breaks ties on
    contested ones.

    All accumulations are DECIMAL sums of 9-dp-rounded terms — exact,
    order-insensitive addition, so results are partition-invariant
    and SQL-replayable (the repo's float convention).

    -> (subj, pred, obj, n_sources, score, is_winner).

    Scale shape: three keyed aggregates (fact-keyed count,
    source-keyed trust mean, fact-keyed trust sum) + one broadcast
    trust dim join + one (subj, pred)-keyed max_by.  No collects, no
    windows; per-key state is scalar everywhere.
    """
    c = claims.select(source, subj, pred, obj).distinct()
    votes = c.groupBy(subj, pred, obj).agg(F.count("*").alias("n_sources"))
    totals = votes.groupBy(subj, pred).agg(F.sum("n_sources").alias("_tot"))
    conf1 = votes.join(totals, [subj, pred]).withColumn(
        "_conf",
        F.round(F.col("n_sources") / F.col("_tot"), 9).cast("decimal(18,9)"),
    )
    trust = (
        c.join(conf1.select(subj, pred, obj, "_conf"), [subj, pred, obj])
        .groupBy(source)
        .agg(
            # exact decimal sum -> ONE double division (matching the
            # oracle's CAST(SUM(..) AS DOUBLE)/COUNT path bit-for-bit;
            # Spark's native decimal/long division picks a different
            # result scale than DuckDB's, so neither engine's decimal
            # division is used)
            F.round(
                F.sum("_conf").cast("double") / F.count("*"), 9
            ).cast("decimal(18,9)").alias("_trust")
        )
    )
    scored = (
        c.join(F.broadcast(trust), source)
        .groupBy(subj, pred, obj)
        .agg(
            F.count("*").alias("n_sources"),
            F.sum("_trust").cast("double").alias("_score"),
        )
    )
    w = scored.groupBy(subj, pred).agg(
        F.max_by(obj, F.struct(F.col("_score"), F.col(obj))).alias("_win")
    )
    return (
        scored.join(w, [subj, pred])
        .select(
            subj,
            pred,
            obj,
            "n_sources",
            F.round("_score", decimals).alias("score"),
            (F.col(obj) == F.col("_win")).alias("is_winner"),
        )
    )


def transe_rank(
    triples: DataFrame,
    entity_ranks: DataFrame | None = None,
    dim: int = 8,
    n_candidates: int = 32,
    seed: int = 42,
    decimals: int = 6,
) -> DataFrame:
    """Link-prediction ranking with deterministic TransE-style scores
    (Bordes et al. 2013): each positive (subj, pred, obj) is ranked
    against ``n_candidates`` corrupt tails drawn from the object
    vocabulary; score(h, r, t) = -||h + r - t||^2 over ``dim``-dim
    embeddings derived as a pure md5 function of the name — the
    evaluation HARNESS shape (candidate fan-out, filtered comparison,
    rank aggregation) with a replayable stand-in for trained vectors
    (swap the embedding expression for a trained-embedding join
    without touching the plan).

    Determinism: emb(name)[i] = (uint32(md5(name#i#seed)) % 2000001
    - 10^6) / 10^6 in [-1, 1]; candidate j for a triple is the
    vocabulary entry at uint32(md5(s|p|o|j|seed)) mod |E| — both pure
    functions of strings (partition-invariant), both SQL-replayable.
    Scores fold dims left-to-right (F.aggregate <-> list_reduce, same
    order), so no rounding is needed before comparison; ties break to
    the lexicographically smaller tail.

    -> (subj, pred, obj, score_true, n_cands, rank, rr, hit10)
    where rank counts strictly-better candidates + 1, n_cands the
    distinct surviving corrupt tails (collisions with the true tail
    dropped, not resampled — the negative_samples convention).

    Scale shape: vocabulary broadcast against a constant
    n_candidates x positives fan-out; scoring is zero-shuffle codegen
    array math; the rank is ONE triple-keyed partial aggregate over
    the bounded candidate set — no windows, no global sort.
    """
    if entity_ranks is None:
        from graph_importer_spark.operators.ids import dense_ids

        entity_ranks = dense_ids(
            triples.select(F.col("obj")).distinct(), "obj"
        ).select(F.col("obj").alias("_ent"), F.col("id").alias("_rank"))
    ents = entity_ranks.select(
        F.col(entity_ranks.columns[0]).alias("_ent"),
        F.col(entity_ranks.columns[1]).alias("_rank"),
    )
    n_ents = ents.count()

    def emb(name):
        return F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: (
                F.conv(
                    F.substring(
                        F.md5(
                            F.encode(
                                F.concat_ws(
                                    "#", name, i.cast("string"), F.lit(str(seed))
                                ),
                                "UTF-8",
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("bigint")
                % F.lit(2000001)
                - F.lit(1000000)
            )
            / F.lit(1000000.0),
        )

    def score(h, r, t):
        diff = F.zip_with(
            F.zip_with(h, r, lambda a, b: a + b), t, lambda s, c: s - c
        )
        return -F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x * x)

    # both the candidate fan-out and the final join read the distinct
    # positives; persist (lazily) so the dedup shuffle runs once, not
    # twice — same rationale as semantic_dup_pairs' assignment persist
    pos = triples.select("subj", "pred", "obj").distinct().persist()
    fanned = pos.select(
        "subj",
        "pred",
        "obj",
        F.explode(F.sequence(F.lit(0), F.lit(n_candidates - 1))).alias("_j"),
    )
    pick = F.conv(
        F.substring(
            F.md5(
                F.encode(
                    F.concat_ws(
                        "|",
                        "subj",
                        "pred",
                        "obj",
                        F.col("_j").cast("string"),
                        F.lit(str(seed)),
                    ),
                    "UTF-8",
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint") % F.lit(n_ents)
    cand = (
        fanned.withColumn("_rank", pick)
        .join(F.broadcast(ents), "_rank")
        .filter(F.col("_ent") != F.col("obj"))
        .select("subj", "pred", "obj", "_ent")
        .distinct()
    )
    h, r = emb(F.col("subj")), emb(F.col("pred"))
    s_true = score(h, r, emb(F.col("obj")))
    s_cand = score(h, r, emb(F.col("_ent")))
    better = (s_cand > s_true) | (
        (s_cand == s_true) & (F.col("_ent") < F.col("obj"))
    )
    agg = cand.groupBy("subj", "pred", "obj").agg(
        F.count("*").alias("n_cands"),
        F.sum(better.cast("bigint")).alias("_nb"),
    )
    rank = F.col("_nb") + 1
    return (
        pos.join(agg, ["subj", "pred", "obj"], "left")
        .select(
            "subj",
            "pred",
            "obj",
            F.round(s_true, decimals).alias("score_true"),
            F.coalesce("n_cands", F.lit(0)).alias("n_cands"),
            F.coalesce(rank, F.lit(1)).alias("rank"),
            F.round(F.lit(1.0) / F.coalesce(rank, F.lit(1)), decimals).alias(
                "rr"
            ),
            (F.coalesce(rank, F.lit(1)) <= 10).alias("hit10"),
        )
    )


def transductive_split(
    triples: DataFrame,
    valid_pct: int = 10,
    test_pct: int = 10,
    seed: int = 42,
) -> DataFrame:
    """Leakage-aware KG train/valid/test split (the TransE-family
    evaluation protocol): triples are coined into splits by an md5
    function of the whole triple (partition-invariant, SQL-replayable
    — the group_split convention), then valid/test triples whose subj
    OR obj never appears in train are DEMOTED to train (the
    transductive requirement: evaluation entities must be trainable;
    dropping them wastes signal, so they train instead).

    -> (subj, pred, obj, split) with split in {train, valid, test}.

    Scale shape: the coin is a zero-shuffle scalar expression; the
    entity-coverage check is two broadcast-able semi-join-shaped LEFT
    joins against the train-entity projection (distinct entity set —
    vocabulary-sized, not corpus-sized); no windows.
    """
    if valid_pct + test_pct >= 100:
        raise ValueError("valid_pct + test_pct must be < 100")
    t = triples.select("subj", "pred", "obj").distinct()
    coin = F.conv(
        F.substring(
            F.md5(
                F.encode(
                    F.concat_ws("|", "subj", "pred", "obj", F.lit(str(seed))),
                    "UTF-8",
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint") % 100
    raw = t.withColumn(
        "_raw",
        F.when(coin < F.lit(test_pct), F.lit("test"))
        .when(coin < F.lit(test_pct + valid_pct), F.lit("valid"))
        .otherwise(F.lit("train")),
    )
    train_ents = (
        raw.filter(F.col("_raw") == "train")
        .select(F.col("subj").alias("_e"))
        .unionByName(
            raw.filter(F.col("_raw") == "train").select(
                F.col("obj").alias("_e")
            )
        )
        .distinct()
    )
    se = train_ents.select(F.col("_e").alias("_se"))
    oe = train_ents.select(F.col("_e").alias("_oe"))
    flagged = (
        raw.join(se, raw["subj"] == se["_se"], "left")
        .join(oe, raw["obj"] == oe["_oe"], "left")
        .select(
            "subj",
            "pred",
            "obj",
            F.when(
                (F.col("_raw") != "train")
                & (F.col("_se").isNull() | F.col("_oe").isNull()),
                F.lit("train"),
            )
            .otherwise(F.col("_raw"))
            .alias("split"),
        )
    )
    return flagged


def alt_chain_pattern(
    triples: DataFrame, pred_sets: list[list[str]], distinct: bool = True
) -> DataFrame:
    """SPARQL chain with per-hop predicate ALTERNATION
    (``?v0 (p1a|p1b) ?v1 . ?v1 (p2a|...) ?v2 ...``) — the property-path
    '|' operator composed with the chain BGP; completes the path
    algebra next to ``chain_pattern`` (single-pred chains),
    ``star_pattern`` (+OPTIONAL) and ``transitive_closure`` ('+').

    -> (v0, p1, v1, p2, v2, ...): the matched predicate of every hop
    is exposed, so callers can post-filter or group by route.

    Scale shape: identical to chain_pattern — each hop's ``pred IN
    (...)`` filter pushes to the (pred-partitioned) triple scan before
    its equi-join; with ``distinct``, hops dedup to distinct
    (subj, pred, obj) facts first so evidence multiplicity never
    multiplies across the join.
    """
    if not pred_sets:
        raise ValueError("need at least one hop")
    out = None
    for i, ps in enumerate(pred_sets):
        hop = triples.filter(F.col("pred").isin(list(ps))).select(
            F.col("subj").alias(f"v{i}"),
            F.col("pred").alias(f"p{i + 1}"),
            F.col("obj").alias(f"v{i + 1}"),
        )
        if distinct:
            hop = hop.distinct()
        out = hop if out is None else out.join(hop, f"v{i}")
    cols = ["v0"]
    for i in range(len(pred_sets)):
        cols += [f"p{i + 1}", f"v{i + 1}"]
    return out.select(*cols)


def cycle_motifs(
    triples: DataFrame, p1: str, p2: str, p3: str, distinct: bool = True
) -> DataFrame:
    """Directed 3-cycle motif matching over the KG:
    (a) -p1-> (b) -p2-> (c) -p3-> (a) — the closed-loop BGP that
    chain_pattern (open paths) cannot express; the structural check
    behind relation-composition mining (brother_of ∘ parent_of =
    uncle_of territory) and circular-ownership / circular-trade
    audits.

    -> (a, b, c), one row per closed triple with a <= b and a <= c
    canonicalization NOT applied (predicates break rotation symmetry
    — each match is reported once as written).

    Scale shape: two entity-keyed equi-joins build the open 2-path
    (each hop pred-filtered BEFORE joining, evidence-deduped like
    chain_pattern); the cycle closes with ONE more equi-join on
    (c, a) against the p3 hop — all hash joins, Zipf entities are
    AQE skew territory.
    """

    def hop(p, s, o):
        h = triples.filter(F.col("pred") == p).select(
            F.col("subj").alias(s), F.col("obj").alias(o)
        )
        return h.distinct() if distinct else h

    h1 = hop(p1, "a", "b")
    h2 = hop(p2, "b", "c")
    h3 = hop(p3, "c", "a2")
    return (
        h1.join(h2, "b")
        .join(h3, "c")
        .filter(F.col("a") == F.col("a2"))
        .select("a", "b", "c")
    )


_BENFORD_P = {
    1: 0.30103, 2: 0.176091, 3: 0.124939, 4: 0.09691, 5: 0.0791812,
    6: 0.0669468, 7: 0.0579919, 8: 0.0511525, 9: 0.0457575,
}


def benford_audit(
    facts: DataFrame,
    pred_col: str = "pred",
    obj_col: str = "obj",
    decimals: int = 6,
) -> DataFrame:
    """Benford's-law first-digit audit of numeric literals per
    predicate (the classic fabricated-numbers detector, applied to KG
    fact QA): per (predicate, leading digit 1-9), the observed count
    vs Benford's expected share log10(1 + 1/d) (baked as 6dp literal
    constants so both engines compare the identical numbers), plus
    the per-cell chi-square contribution — sum per predicate for the
    test statistic.

    Non-numeric and zero/sign-stripped-empty literals drop; numbers
    parse by regex (leading zeros ignored, sign and separators
    stripped) — purely lexical, no cast.

    -> (pred, digit, n, expected_share, observed_share, chi2).

    Scale shape: ONE (pred, digit) aggregate (9 x |preds| cells,
    partial agg absorbs Zipf predicates) + a per-pred total join on
    the bounded cell table.
    """
    cleaned = F.regexp_replace(F.col(obj_col), r"[^0-9]", "")
    nolead = F.regexp_replace(cleaned, r"^0+", "")
    digit = F.substring(nolead, 1, 1)
    base = facts.select(
        F.col(pred_col).alias("pred"), digit.alias("d")
    ).filter(F.col("d") != "")
    per = base.groupBy("pred", F.col("d").cast("int").alias("digit")).agg(
        F.count("*").alias("n")
    )
    tot = per.groupBy("pred").agg(F.sum("n").alias("_t"))
    exp_share = None
    for dd, p in _BENFORD_P.items():
        e = F.when(F.col("digit") == dd, F.lit(p))
        exp_share = e if exp_share is None else F.coalesce(exp_share, e)
    j = per.join(tot, "pred")
    expn = exp_share * F.col("_t")
    return j.select(
        "pred",
        "digit",
        "n",
        F.round(exp_share, decimals).alias("expected_share"),
        F.round(F.col("n") / F.col("_t"), decimals).alias("observed_share"),
        F.round(
            (F.col("n") - expn) * (F.col("n") - expn) / expn, decimals
        ).alias("chi2"),
    )


def temporal_consistency(
    facts: DataFrame,
    before_pred: str,
    after_pred: str,
    decimals: int = 6,
) -> DataFrame:
    """Ordering-constraint audit between two numeric/date fact
    predicates (born-before-died, placed-before-shipped,
    created-before-modified): for each subject holding BOTH facts,
    flag violations where the ``after`` literal precedes the
    ``before`` one.  Literals compare as DOUBLE (run
    normalize_literals first for messy strings).

    -> (subj, before_val, after_val, gap, is_violation).

    Scale shape: two pred-filtered projections (filters push to the
    pred-partitioned scan) + ONE subject-keyed equi-join; multiple
    assertions per side collapse to min(before)/max(after) first —
    the most charitable reading, so a flagged violation is real
    under every assertion choice.
    """
    b = (
        facts.filter(F.col("pred") == before_pred)
        .groupBy("subj")
        .agg(F.min(F.col("obj").cast("double")).alias("before_val"))
    )
    a = (
        facts.filter(F.col("pred") == after_pred)
        .groupBy("subj")
        .agg(F.max(F.col("obj").cast("double")).alias("after_val"))
    )
    return b.join(a, "subj").select(
        "subj",
        F.round("before_val", decimals).alias("before_val"),
        F.round("after_val", decimals).alias("after_val"),
        F.round(F.col("after_val") - F.col("before_val"), decimals).alias(
            "gap"
        ),
        (F.col("after_val") < F.col("before_val")).alias("is_violation"),
    )


def predicate_range_types(
    facts: DataFrame, decimals: int = 6
) -> DataFrame:
    """Predicate range typing: per predicate, the literal-form census
    of its object values (integer / decimal / date-like / boolean /
    string by LEXICAL shape — no casts, so dirty values can't throw)
    and the majority form as the inferred range type (ties to the
    lexicographically smaller type name) — the schema-discovery step
    before declaring an ontology range or building typed indexes.

    -> (pred, n, n_int, n_decimal, n_date, n_bool, n_string,
       inferred_type, purity).

    Scale shape: ONE (pred, shape) classification aggregate (pure
    regexp codegen, partial agg absorbs Zipf predicates).
    """
    o = F.col("obj")
    is_int = o.rlike(r"^-?[0-9]+$")
    is_dec = o.rlike(r"^-?[0-9]+\.[0-9]+$")
    is_date = o.rlike(r"^[0-9]{4}-[0-9]{2}-[0-9]{2}")
    is_bool = F.lower(o).isin("true", "false")
    per = facts.groupBy(F.col("pred")).agg(
        F.count("*").alias("n"),
        F.sum(is_int.cast("bigint")).alias("n_int"),
        F.sum((is_dec & ~is_int).cast("bigint")).alias("n_decimal"),
        F.sum((is_date & ~is_int & ~is_dec).cast("bigint")).alias("n_date"),
        F.sum(is_bool.cast("bigint")).alias("n_bool"),
        F.sum(
            (~is_int & ~is_dec & ~is_date & ~is_bool).cast("bigint")
        ).alias("n_string"),
    )
    counts = F.array(
        F.struct(F.col("n_bool").alias("c"), F.lit("boolean").alias("t")),
        F.struct(F.col("n_date").alias("c"), F.lit("date").alias("t")),
        F.struct(F.col("n_decimal").alias("c"), F.lit("decimal").alias("t")),
        F.struct(F.col("n_int").alias("c"), F.lit("integer").alias("t")),
        F.struct(F.col("n_string").alias("c"), F.lit("string").alias("t")),
    )
    mx = F.array_max(F.transform(counts, lambda s: s.getField("c")))
    winner = F.array_min(
        F.transform(
            F.filter(counts, lambda s: s.getField("c") == mx),
            lambda s: s.getField("t"),
        )
    )
    return per.select(
        "pred",
        "n",
        "n_int",
        "n_decimal",
        "n_date",
        "n_bool",
        "n_string",
        winner.alias("inferred_type"),
        F.round(mx / F.col("n"), decimals).alias("purity"),
    )
