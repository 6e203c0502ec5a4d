"""Analysed plan templates: each pure plan builder is analysed once per
key and rebound onto the caller's frames.

A builder here is a function ``build(*frames, *args)`` that returns a
DataFrame computed from its input frames alone: ``transform()``'s
Catalyst twins, ``explode_media_points``, ``assign_tiles``,
``pip_join``, ``pip_join_cells`` and ``salted_count``.  Analysis is most
of what such a build costs on the driver (thousands of Catalyst rule
runs), and it gives the same plan on every call with the same key:

    (session, builder, its non-frame arguments, each input's output
     attributes -- name, type, nullability, metadata, qualifier --,
     spark.sql.ansi.enabled, spark.sql.caseSensitive)

So ``templated`` builds each key once over placeholder LocalRelations
(one per input, carrying that input's output attributes under fresh
exprIds) and keeps the analysed plan.  Every call, the first included,
puts the caller's analysed plans in for the placeholder leaves and the
caller's columns in for every reference to a placeholder column, then
marks the result analysed, so ``Dataset.ofRows`` runs no analyzer rule
over it.  A warm call costs a fixed number of py4j commands, whatever
the width of its inputs.

A builder that reads one input twice (``pip_join_cells`` reads its
zones twice) gets a re-instanced placeholder copy from the analyzer's
DeduplicateRelations; the caller's plans are put through that same rule
(one rule, not the analyzer) before they go in, so every leaf gets
exprIds of its own, also when two inputs share a lineage.

The rebinding reaches Catalyst through ``df._jdf`` and Spark-internal
plan methods (``transformAllExpressions``, ``transformUp``, the
``private[catalyst]`` ``setAnalyzed``, ``DeduplicateRelations``), so a
builder needs a Classic (not a Spark Connect) session.  Everything a
template holds is named once per template: two outputs of one template
share their internal exprIds and observation names, which Spark
accepts (the analyzer de-duplicates them in a union or a self-join, and
CheckAnalysis takes two CollectMetrics of one name and one dataframe
id as one).  Nothing is keyed by the caller's frame or plan.
"""

from __future__ import annotations

import json
import re
from collections import OrderedDict
from functools import lru_cache
from typing import NamedTuple

MAX_TEMPLATES = 256
_TAG = "proj_4_spark.template_input"
_EXPR_ID = re.compile(r'"exprId":\{[^}]*\}')
_templates: OrderedDict = OrderedDict()


class _Jvm(NamedTuple):
    """The JVM handles a warm call uses, resolved once per session: each
    ``jvm.a.b.C`` walk costs one py4j command per name."""
    empty_map: object       # an empty Scala Map
    conforms: object        # the evidence Seq.toMap takes in Scala 2.13
    dataset: object         # classic.Dataset
    create_array: object    # CreateArray: a Seq of attributes as one JSON
    join: object            # Join
    cross: object           # the Cross join type
    no_condition: object    # scala.None
    no_hint: object         # JoinHint.NONE
    dedup: object           # the analyzer rule DeduplicateRelations


@lru_cache(maxsize=8)
def _jvm(session) -> _Jvm:
    jvm = session._jvm
    cat = jvm.org.apache.spark.sql.catalyst
    return _Jvm(
        jvm.PythonUtils.toScalaMap(jvm.java.util.HashMap()),
        getattr(jvm.scala.Predef, "$conforms")(),
        jvm.org.apache.spark.sql.classic.Dataset,
        cat.expressions.CreateArray,
        cat.plans.logical.Join,
        cat.plans.JoinType.apply("cross"),
        jvm.scala.Option.apply(None),
        cat.plans.logical.JoinHint.NONE(),
        cat.analysis.DeduplicateRelations)


class _Template(NamedTuple):
    """An analysed build and what a rebind needs to put it over the
    caller's frames, all resolved once per key."""
    plan: object        # the analysed build over the placeholders
    leaves: tuple       # its placeholder leaves, in plan order
    sources: tuple      # the input each leaf stands for
    holes: object       # the leaves' output attributes, concatenated
    respelled: tuple    # (position in holes, reference, spelling)


def templated(build, args: tuple, *dfs):
    """``build(*dfs, *args)``, analysed once per key (module docstring)
    and rebound onto ``dfs``.  ``args`` must be hashable; the 256 most
    recently used templates are kept."""
    session = dfs[0].sparkSession
    h = _jvm(session)
    plans = [df._jdf.queryExecution().analyzed() for df in dfs]
    outs = [p.output() for p in plans]
    conf = session.conf
    key = (session, build, args,
           tuple(_EXPR_ID.sub("", h.create_array(o, False).toJSON())
                 for o in outs),
           conf.get("spark.sql.ansi.enabled"),
           conf.get("spark.sql.caseSensitive"))
    template = _templates.get(key)
    if template is None:
        # a build that raises is not kept: it raises on every call
        template = _analyse(h, session, build, args, outs)
        _templates[key] = template
        if len(_templates) > MAX_TEMPLATES:
            _templates.popitem(last=False)
    else:
        _templates.move_to_end(key)
    return _rebind(h, session, template, plans, outs)


def _analyse(h: _Jvm, session, build, args, outs) -> _Template:
    """``build`` emitted and analysed over one placeholder per input: an
    empty LocalRelation of that input's output attributes under fresh
    exprIds, tagged with the input's position (DeduplicateRelations
    copies the tag onto a re-instanced copy).  Besides the plan it keeps
    every reference to a placeholder column that the analyzer spelled
    in another letter case (it keeps the caller's spelling)."""
    from pyspark.sql import DataFrame

    cat = session._jvm.org.apache.spark.sql.catalyst
    relation = cat.plans.logical.LocalRelation
    tag = cat.trees.TreeNodeTag(_TAG)
    placeholders = []
    for i, out in enumerate(outs):
        leaf = relation(out, getattr(relation, "apply$default$2")(), False,
                        getattr(relation, "apply$default$4")()).newInstance()
        leaf.setTagValue(tag, i)
        placeholders.append(DataFrame(
            h.dataset.ofRows(session._jsparkSession, leaf), session))
    plan = build(*placeholders, *args)._jdf.queryExecution().analyzed()
    leaves, sources, holes = [], [], None
    every = plan.collectLeaves()
    for k in range(every.size()):
        source = every.apply(k).getTagValue(tag)
        if source.isDefined():
            leaves.append(every.apply(k))
            sources.append(source.get())
            out = every.apply(k).output()
            holes = out if holes is None else holes.appendedAll(out)
    return _Template(plan, tuple(leaves), tuple(sources), holes,
                     _respelled(plan, holes))


def _respelled(plan, holes) -> tuple:
    """(position, reference, spelling) of each reference to a hole that
    differs from it in its name alone.  Any other difference would leave
    a reference the rebind does not reach, so it raises here, once per
    key, rather than as a missing attribute at execution."""
    have = {}
    for i in range(holes.size()):
        ref = json.loads(holes.apply(i).toJSON())[0]
        have[ref["exprId"]["id"]] = (i, ref)
    seen = {}

    def walk(node):
        if isinstance(node, list):
            for n in node:
                walk(n)
        elif isinstance(node, dict):
            if (node.get("class", "").endswith(".AttributeReference")
                    and node["exprId"]["id"] in have):
                i, hole = have[node["exprId"]["id"]]
                if node != hole:
                    if {k for k in node if node[k] != hole[k]} != {"name"}:
                        raise NotImplementedError(
                            f"a plan template reads column {hole['name']!r} "
                            f"as {node}, which it cannot rebind")
                    seen[(i, node["name"])] = None
            for v in node.values():
                walk(v)

    walk(json.loads(plan.toJSON()))
    return tuple((i, holes.apply(i).withName(n), n) for i, n in seen)


def _rebind(h: _Jvm, session, template: _Template, plans, outs):
    """The template over the caller's analysed `plans`: each placeholder
    leaf becomes its input's plan, then every reference to a
    placeholder column becomes the caller's column at the same position
    (both follow the attributes in the key; the caller's keep their
    qualifiers).  With more than one leaf, the plans meet first under
    one cross Join that DeduplicateRelations re-instances where they
    share exprIds, as the analyzer would in the build; the Join is then
    taken apart again.  The result is the plan a build over the
    caller's frames analyses to, so it is marked analysed.  Both
    substitution maps are built on the JVM side."""
    from pyspark.sql import DataFrame

    if len(template.sources) == 1:
        callers, cols = [plans[template.sources[0]]], outs[template.sources[0]]
    else:
        joined = plans[template.sources[0]]
        for s in template.sources[1:]:
            joined = h.join(joined, plans[s], h.cross, h.no_condition,
                            h.no_hint)
        joined = h.dedup.apply(joined)
        cols = joined.output()
        callers = []
        for _ in template.sources[1:]:
            callers.append(joined.right())
            joined = joined.left()
        callers = [joined] + callers[::-1]
    attrs = template.holes.zip(cols).toMap(h.conforms)
    for i, ref, name in template.respelled:
        attrs = attrs.updated(ref, cols.apply(i).withName(name))
    # a Scala Map is a PartialFunction: the rule of both rewrites
    leaves = h.empty_map
    for leaf, caller in zip(template.leaves, callers):
        leaves = leaves.updated(leaf, caller)
    plan = template.plan.transformUp(leaves).transformAllExpressions(attrs)
    plan.setAnalyzed()
    return DataFrame(h.dataset.ofRows(session._jsparkSession, plan), session)
