"""JSON-LD document → expanded document form (the Expansion algorithm).

The reference's own conformance suite ran ``expand`` cases alongside
``toRdf``/``fromRdf`` ([v0.5.0] test/test_testsuite.py walks the W3C
manifests' expand tests — SURVEY.md §5.1), so expanded document form is part
of the capability surface even though the 0.5.0 plugin API only exposed it
implicitly (its parser normalized through the same term/value semantics,
[v0.5.0] parser.py ~L120-480). This module implements the algorithm directly
from [spec] JSON-LD 1.1 Processing Algorithms and API §5.1 (Expansion) and
§5.2 (Value Expansion), reusing the same ``Context`` machinery as to-rdf.

Expanded form invariants ([spec] JLD-API §5.1):
- every property value is an array;
- every key is an absolute IRI, a blank-node label, or a keyword;
- scalars are wrapped in value objects ``{"@value": ...}`` carrying the
  coerced ``@type`` / ``@language`` / ``@direction``;
- ``@list`` / ``@set`` / container maps are made explicit / unfolded.

Semantic oracle used by the tests: ``to_rdf(expand(doc)) ≅ to_rdf(doc)``
(bnode-isomorphism-aware) — expansion must never change the emitted graph.
"""

from __future__ import annotations

import re as _re

from . import keys
from .context import Context, UNDEF
from .errors import (ConflictingIndexes, InvalidAnnotation,
                     InvalidBaseDirection, InvalidEmbeddedNode,
                     InvalidIdValue,
                     InvalidIncludedValue, InvalidIndexValue,
                     InvalidLanguageTaggedString,
                     InvalidLanguageTaggedValue, InvalidNestValue,
                     InvalidReversePropertyMap,
                     InvalidReversePropertyValue, InvalidReverseValue,
                     InvalidSetOrListObject, InvalidTypedValue,
                     InvalidTypeValue, InvalidValueObject,
                     InvalidValueObjectValue)
from .tordf import _as_list

_ABS_IRI_RE = _re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*:")

# the only entries a value object admits ([spec] §5.1 step 13.4.3); a
# local @context is legal but consumed before the value walk
_VALUE_OBJECT_KEYS = frozenset({keys.VALUE, keys.TYPE, keys.LANG,
                                keys.DIRECTION, keys.INDEX, keys.CONTEXT,
                                keys.ANNOTATION})  # JSON-LD-star draft


_key_survives = keys.key_survives  # [spec] §5.1 step 13.3 (ADVICE r03)


def _check_set_list_siblings(kmap: dict, which: str) -> None:
    """[spec] §5.1 steps 13.4.9.1/13.4.11: a @set/@list object admits
    only @index (plus a consumed @context) beside it — anything else
    that survives step 13.3 is an invalid set or list object, never a
    silent merge."""
    bad = [k for k, e in kmap.items()
           if _key_survives(e) and e not in (which, keys.INDEX,
                                             keys.CONTEXT)]
    if bad:
        raise InvalidSetOrListObject(f"{which} with {bad!r}")


def expand(data, context_data=None, base: str | None = None,
           registry: dict | None = None, ctx: Context | None = None) -> list:
    """Parsed JSON value → expanded document form (a list of node objects).

    [spec] JLD-API §5.1 steps 1-19; the ``registry`` kwarg replaces remote
    context fetch exactly as in :func:`..tordf.to_rdf` (SURVEY.md §2.A7).
    """
    if ctx is None:
        ctx = Context(base=base, registry=registry)
        if context_data is not None:
            ctx = ctx.load(context_data)
    result = _expand_element(ctx, None, data)
    # Top-level normalization ([spec] §5.1 step 19): a lone map whose only
    # key is @graph expands to the value of @graph; null → empty array.
    if isinstance(result, dict) and set(result) == {keys.GRAPH}:
        result = result[keys.GRAPH]
    if result is None:
        return []
    if not isinstance(result, list):
        result = [result]
    return result


# ---------------------------------------------------------------------------
# element expansion
# ---------------------------------------------------------------------------

def _expand_element(ctx: Context, active_key: str | None, element,
                    in_list: bool = False, from_map: bool = False):
    """[spec] §5.1 Expansion Algorithm. ``active_key`` is the raw document
    key whose term definition governs coercion (None at top level).
    ``from_map`` marks direct entries of container maps — the step-8
    previous-context revert is skipped for them (steps 13.7-13.8 recurse
    with from map = true), so type-scoped terms still apply inside
    @index/@id/@type/@graph map values."""
    if element is None:
        return None

    if isinstance(element, list):
        out = []
        for item in element:
            if isinstance(item, list) and in_list:
                # lists of lists stay nested in 1.1 ([spec] §5.1 step 5.2.3)
                expanded = {keys.LIST: _ensure_array(
                    _expand_element(ctx, active_key, item, in_list=True))}
                out.append(expanded)
                continue
            expanded = _expand_element(ctx, active_key, item, in_list=in_list,
                                       from_map=from_map)
            if expanded is None:
                continue
            if isinstance(expanded, list):
                out.extend(expanded)  # arrays flattened ([spec] step 5.2.4)
            else:
                out.append(expanded)
        return out

    if not isinstance(element, dict):
        # Scalar: free-floating scalars are dropped ([spec] step 4.1).
        if active_key is None or ctx.expand_key(active_key) == keys.GRAPH:
            return None
        return _expand_value(ctx, active_key, element)

    # --- map ---------------------------------------------------------------
    # Non-propagating scoped-context revert ([spec] JLD-API §5.1 step 8):
    # a pending type-scoped context drops on entry to a nested element
    # unless it is a value object or a subject reference.
    if ctx.previous is not None and not from_map:
        probe = ctx.expand_keys(tuple(element))
        # the subject-reference exemption requires @id to actually be
        # present (ADVICE r02: an EMPTY map is not a subject reference,
        # so it reverts too)
        is_subject_ref = keys.ID in probe and set(probe) <= {keys.ID}
        if not any(e == keys.VALUE for e in probe) and not is_subject_ref:
            ctx = ctx.previous
    if keys.CONTEXT in element:
        ctx = ctx.load(element[keys.CONTEXT])

    kmap = {k: ctx.expand_key(k) for k in element}

    # Type-scoped contexts ([spec] §5.1 step 9; 1.1 §4.1.8).
    type_key = next((k for k, e in kmap.items() if e == keys.TYPE), None)
    if type_key is not None:
        raw = element[type_key]
        raw = raw if isinstance(raw, list) else [raw]
        ctx = ctx.subcontext_for_type([t for t in raw if isinstance(t, str)])
        kmap = {k: ctx.expand_key(k) for k in element}

    keys.check_colliding_keywords(kmap)

    # Value object ([spec] §5.1 steps 13.4.3-13.4.16).
    val_key = next((k for k, e in kmap.items() if e == keys.VALUE), None)
    if val_key is not None:
        vo = _expand_value_object(ctx, element, kmap, val_key)
        if vo is not None and keys.ANNOTATION in vo and (
                in_list or active_key is None
                or ctx.expand_key(active_key) == keys.GRAPH):
            # JSON-LD-star draft: annotated value outside a triple slot
            raise InvalidAnnotation("@annotation in a non-embedded position")
        if vo is not None and (active_key is None or
                               ctx.expand_key(active_key) == keys.GRAPH):
            return None  # free-floating value object ([spec] step 19.1)
        return vo

    result: dict = {}
    nests: list = []

    for key, value in element.items():
        expanded_key = kmap[key]
        if expanded_key is None or key == keys.CONTEXT \
                or expanded_key == keys.CONTEXT:
            continue  # B2: unmapped keys are dropped

        if expanded_key == keys.ID:
            if isinstance(value, dict):
                # JSON-LD-star draft: embedded node (quoted-triple
                # subject) — expanded form keeps the nested map
                result[keys.ID] = _expand_embedded(ctx, value)
                continue
            if not isinstance(value, str):
                # [spec] §5.1 step 13.4.3.1
                raise InvalidIdValue(repr(value))
            iri = _expand_id(ctx, value)
            if iri is not None:
                result[keys.ID] = iri
            continue

        if expanded_key == keys.TYPE:
            types = []
            # the to-rdf walk's alias-aware @set unwrap: both engines
            # accept and reject the same @type values
            for t in _as_list(value, ctx):
                if not isinstance(t, str):
                    # [spec] §5.1 step 13.4.4
                    raise InvalidTypeValue(repr(t))
                t_iri = ctx.expand_iri(t, vocab=True)
                if t_iri is not None and t_iri not in keys.KEYWORDS:
                    types.append(t_iri)
            if types:
                result.setdefault(keys.TYPE, []).extend(types)
            continue

        if expanded_key == keys.GRAPH:
            graph = _ensure_array(
                _expand_element(ctx, key, value))
            result[keys.GRAPH] = [g for g in graph if isinstance(g, dict)]
            continue

        if expanded_key == keys.INCLUDED:  # [spec] 1.1 §9.13
            # [spec] §5.1 step 13.4.7.2 expands with the ACTIVE PROPERTY
            # (not null): scalars become value objects and fail the
            # node-object check below, while nested arrays flatten into
            # valid node objects (ADVICE r03: the raw pre-check here
            # wrongly rejected {"@included": [[{...}]]})
            inc = _ensure_array(_expand_element(ctx, key, value))
            for n in inc:
                if not isinstance(n, dict) or keys.VALUE in n:
                    # node objects only — value objects are errors
                    raise InvalidIncludedValue(repr(n))
                if keys.ANNOTATION in n:
                    # no base triple exists for a sibling node
                    raise InvalidAnnotation("@annotation under @included")
            if inc:
                result.setdefault(keys.INCLUDED, []).extend(inc)
            continue

        if expanded_key == keys.REV:  # [spec] §5.1 step 13.13
            if not isinstance(value, dict):
                # [spec] §5.1 step 13.7.1 (sweep 6: silently ignored)
                raise InvalidReverseValue(repr(value))
            if isinstance(value, dict):
                rev_ctx = ctx.subcontext_for_term(key)
                rmap = result.setdefault(keys.REV, {})
                for rk, rv in value.items():
                    p_iri = rev_ctx.expand_iri(rk, vocab=True)
                    if p_iri == keys.REV:
                        # [spec] §5.1 step 13.7.2 (sweep 6)
                        raise InvalidReversePropertyMap(rk)
                    if p_iri is None or p_iri in keys.KEYWORDS:
                        continue
                    vals = _ensure_array(_expand_element(rev_ctx, rk, rv))
                    for v in vals:
                        if not isinstance(v, dict) or keys.VALUE in v \
                                or keys.LIST in v:
                            # [spec] §5.1 step 13.4.9
                            raise InvalidReversePropertyValue(repr(v))
                        if keys.ANNOTATION in v:
                            # JSON-LD-star draft: no reverse annotations
                            raise InvalidAnnotation(
                                "@annotation under @reverse")
                        rmap.setdefault(p_iri, []).append(v)
            continue

        if expanded_key == keys.NEST:  # [spec] 1.1 §9.10
            for item in _raw_array(value):
                if not isinstance(item, dict):
                    # [spec] 1.1 §9.10 / expansion step 13.4.13 (sweep
                    # 6: scalar @nest values were silently dropped)
                    raise InvalidNestValue(repr(item))
                nests.append((key, item))
            continue

        if expanded_key == keys.LIST:
            _check_set_list_siblings(kmap, keys.LIST)
            lst = _ensure_array(
                _expand_element(ctx, active_key, value, in_list=True))
            result[keys.LIST] = lst
            continue

        if expanded_key == keys.SET:
            # @set is sugar: expansion of its contents replaces the map
            # ([spec] §5.1 step 13.4.11) — merge siblings like @index below.
            _check_set_list_siblings(kmap, keys.SET)
            idx2 = next((k for k, e in kmap.items()
                         if e == keys.INDEX), None)
            if idx2 is not None and not isinstance(element[idx2], str):
                # step 13.4.8 validates the sibling @index VALUE before
                # the early return (sweep 35: a null @index on a set
                # object slipped past — the branch returns before the
                # @index key's own turn in this loop)
                raise InvalidIndexValue(repr(element[idx2]))
            return _expand_element(ctx, active_key, value, in_list=in_list)

        if expanded_key == keys.INDEX:
            if not isinstance(value, str):
                # [spec] §5.1 step 13.4.8
                raise InvalidIndexValue(repr(value))
            result[keys.INDEX] = value
            continue

        if expanded_key == keys.ANNOTATION:
            # JSON-LD-star draft: annotation objects expand like node
            # objects but must stay edge-shaped — no @id/@value/@list/
            # @graph. Position legality fires on the ENTRY, not the
            # expanded result (sweep 35 differential: an EMPTY
            # "@annotation": [] at top level slipped past the
            # result-based check below while to_rdf errored).
            if in_list or active_key is None \
                    or ctx.expand_key(active_key) in (keys.GRAPH,
                                                      keys.INCLUDED):
                raise InvalidAnnotation(
                    "@annotation in a non-embedded position")
            anns = []
            for item in _raw_array(value):
                if not isinstance(item, dict):
                    raise InvalidAnnotation(repr(item))
                for node2 in _ensure_array(
                        _expand_element(ctx, key, item)):
                    if not isinstance(node2, dict) or any(
                            e in node2 for e in (keys.ID, keys.VALUE,
                                                 keys.LIST, keys.GRAPH)):
                        raise InvalidAnnotation(repr(node2))
                    anns.append(node2)
            if anns:
                result.setdefault(keys.ANNOTATION, []).extend(anns)
            continue

        if expanded_key in keys.KEYWORDS:
            continue  # @version/@prefix/etc. carry no expanded output

        # --- regular property ---
        term = ctx.terms.get(key)
        sub_ctx = ctx.subcontext_for_term(key)
        container = term.container if term is not None else set()
        is_reverse = term is not None and term.reverse

        expanded_value = _expand_container_value(
            sub_ctx, key, term, container, value)
        if expanded_value is None:
            continue
        if is_reverse:
            rmap = result.setdefault(keys.REV, {})
            for v in expanded_value:
                if not isinstance(v, dict) or keys.VALUE in v \
                        or keys.LIST in v:
                    # [spec] §5.1 step 14 (reverse terms take nodes only)
                    raise InvalidReversePropertyValue(repr(v))
                if keys.ANNOTATION in v:
                    # JSON-LD-star draft: no reverse annotations
                    raise InvalidAnnotation("@annotation on a reverse value")
                rmap.setdefault(expanded_key, []).append(v)
        else:
            result.setdefault(expanded_key, []).extend(expanded_value)

    # @nest properties merge into the enclosing node ([spec] 1.1 §9.10).
    for nest_key, nested in nests:
        nested_ctx = ctx.subcontext_for_term(nest_key)
        # step 13.8: each nested value must be a MAP without (aliased)
        # @value — checked on the RAW map, before expansion can null
        # the evidence away (sweep 35: {"@nest": {"@value": null}}
        # slipped through while the to_rdf twin errored)
        for raw in (nested if isinstance(nested, list) else [nested]):
            if not isinstance(raw, dict) or any(
                    nested_ctx.expand_key(k) == keys.VALUE for k in raw):
                raise InvalidNestValue(repr(raw))
        sub = _expand_element(nested_ctx, None, nested)
        for node in _ensure_array(sub):
            if not isinstance(node, dict):
                continue
            if keys.VALUE in node:
                # [spec] 1.1 §9.10: nested values must be NODE objects
                raise InvalidNestValue(repr(node))
            for nk, nv in node.items():
                if nk == keys.ID:
                    continue
                if nk == keys.REV:
                    rmap = result.setdefault(keys.REV, {})
                    for p, vs in nv.items():
                        rmap.setdefault(p, []).extend(vs)
                elif nk == keys.INDEX:
                    # @index stays a SCALAR keyword value — the generic
                    # merge array-wrapped it, producing invalid expanded
                    # form (sweep 35 differential); a different index
                    # already on the node is the spec's conflict error
                    if result.get(keys.INDEX, nv) != nv:
                        raise ConflictingIndexes(
                            f"{result[keys.INDEX]!r} vs {nv!r} via @nest")
                    result[keys.INDEX] = nv
                else:
                    result.setdefault(nk, []).extend(
                        nv if isinstance(nv, list) else [nv])

    # Normalization ([spec] §5.1 steps 14-19).
    if keys.REV in result and not result[keys.REV]:
        del result[keys.REV]
    if not result:
        # [spec] §5.1 step 19: an EMPTY node object is dropped only in
        # free-floating position (active property null/@graph); under a
        # real property it stays a blank node — sweep 9: expansion
        # dropped it everywhere while to_rdf kept it (divergence)
        if active_key is None or ctx.expand_key(active_key) == keys.GRAPH:
            return None
        return result
    if keys.ANNOTATION in result and (
            in_list or active_key is None
            or ctx.expand_key(active_key) == keys.GRAPH):
        # JSON-LD-star draft: a top-level / @graph-item / list-item
        # node has no base triple to annotate
        raise InvalidAnnotation("@annotation in a non-embedded position")
    if active_key is None or ctx.expand_key(active_key) == keys.GRAPH:
        # [spec] §5.1 step 19: free-floating values dropped — maps
        # containing @value or @list (19.1; sweep 7: these survived
        # before) and lone node references (19.2)
        if keys.VALUE in result or keys.LIST in result \
                or set(result) <= {keys.ID}:
            return None
    return result


def _expand_container_value(ctx: Context, key: str, term, container: set,
                            value):
    """Unfold container maps ([spec] §5.1 steps 13.7-13.9) and plain values;
    always returns a list of expanded objects (or None)."""
    if term is not None and term.type == keys.JSON:
        # @json-typed term: the raw value IS the literal ([spec] step 13.6,
        # which beats container unfolding). Step 13.11 still applies: a
        # @list container wraps the single literal (sweep 12 — the wrap
        # was skipped, diverging from to_rdf)
        ev = {keys.VALUE: value, keys.TYPE: keys.JSON}
        if keys.LIST in container:
            return [{keys.LIST: [ev]}]
        return [ev]

    if keys.LANG in container and isinstance(value, dict):
        # [spec] 1.1 §5.1 step 13.7: entries get the term's direction
        # mapping or the context default @direction (mirrors tordf)
        direction = term.direction if term is not None \
            and term.direction is not UNDEF else ctx.direction
        out = []
        for lang in sorted(value):
            for v in _raw_array(value[lang]):
                if not isinstance(v, str):
                    continue
                obj = {keys.VALUE: v}
                if lang != keys.NONE and lang != ctx.alias(keys.NONE):
                    obj[keys.LANG] = lang.lower()
                if direction:
                    obj[keys.DIRECTION] = direction
                out.append(obj)
        return out

    if (keys.INDEX in container or keys.ID in container
            or keys.TYPE in container) and isinstance(value, dict):
        out = []
        for mkey in sorted(value):
            for v in _raw_array(value[mkey]):
                # from_map=True: step-8 revert skipped for map entries
                expanded = _expand_element(ctx, key, v, from_map=True)
                if expanded is None:
                    continue
                for node in _ensure_array(expanded):
                    if not isinstance(node, dict):
                        continue
                    if keys.GRAPH in container:
                        # graph-keyed map ([spec] 1.1 §9.11 + step
                        # 13.7.4.2): every entry becomes a graph object;
                        # @index keys annotate it (non-semantic in
                        # toRdf), @id keys NAME the graph
                        if keys.ANNOTATION in node:
                            # graph contents have no base triple
                            # (JSON-LD-star draft; r05 sweep divergence
                            # — tordf already raised here)
                            raise InvalidAnnotation(
                                "@annotation under a @graph container")
                        if keys.GRAPH in node and not (
                                set(node) - {keys.GRAPH, keys.ID,
                                             keys.INDEX}):
                            gobj = node
                        else:
                            gobj = {keys.GRAPH: [node]}
                        none_keys = (keys.NONE, ctx.alias(keys.NONE))
                        if keys.INDEX in container \
                                and mkey not in none_keys \
                                and keys.INDEX not in gobj:
                            gobj = {**gobj, keys.INDEX: mkey}
                        elif keys.ID in container \
                                and mkey not in none_keys \
                                and keys.ID not in gobj:
                            iri = _expand_id(ctx, mkey)
                            if iri is not None:
                                gobj = {keys.ID: iri, **gobj}
                        out.append(gobj)
                        continue
                    if keys.INDEX in container and term is not None \
                            and term.index is not None:
                        # property-based data indexing ([spec] 1.1
                        # §4.6.3; expansion step 13.8.3.7): the map key
                        # becomes a VALUE of the index property on each
                        # indexed NODE; @none adds nothing
                        if mkey not in (keys.NONE, ctx.alias(keys.NONE)):
                            if keys.VALUE in node:
                                raise InvalidValueObject(
                                    f"{key}: property-based index over "
                                    f"a value object")
                            prop = ctx.expand_iri(term.index, vocab=True)
                            val = _expand_value(ctx, term.index, mkey)
                            node = {**node,
                                    prop: [val] + list(node.get(prop, []))}
                    elif keys.INDEX in container \
                            and mkey not in (keys.NONE,
                                             ctx.alias(keys.NONE)):
                        if keys.INDEX in node \
                                and node[keys.INDEX] != mkey:
                            # [spec] §5.1 step 13.8.3.7.2 (sweep 7: a
                            # differing item @index was silently kept)
                            raise ConflictingIndexes(
                                f"{key}: {node[keys.INDEX]!r} vs "
                                f"{mkey!r}")
                        if keys.INDEX not in node:
                            node = {**node, keys.INDEX: mkey}
                    elif keys.ID in container and mkey != keys.NONE \
                            and keys.ID not in node:
                        iri = _expand_id(ctx, mkey)
                        if iri is not None:
                            node = {keys.ID: iri, **node}
                    elif keys.TYPE in container and mkey != keys.NONE:
                        t_iri = ctx.expand_iri(mkey, vocab=True)
                        if t_iri is not None:
                            node = {**node, keys.TYPE: [t_iri]
                                    + node.get(keys.TYPE, [])}
                    out.append(node)
        return out

    if keys.LIST in container and not (
            isinstance(value, dict) and any(
                ctx.expand_key(k) == keys.LIST for k in value)):
        lst = _ensure_array(_expand_element(ctx, key, value, in_list=True))
        return [{keys.LIST: lst}]

    if keys.GRAPH in container:  # [spec] 1.1 §9.11
        out = []
        for v in _raw_array(value):
            if not isinstance(v, dict):
                continue
            expanded = _expand_element(ctx, key, v, from_map=True)
            for node in _ensure_array(expanded):
                if not isinstance(node, dict):
                    continue
                if keys.ANNOTATION in node:
                    # r05 sweep: mirrors tordf (graph contents have no
                    # base triple to annotate — JSON-LD-star draft)
                    raise InvalidAnnotation(
                        "@annotation under a @graph container")
                if keys.GRAPH in node and set(node) <= {
                        keys.GRAPH, keys.ID, keys.INDEX}:
                    # already a GRAPH OBJECT (@graph with only @id/@index
                    # — [spec] 1.1 §9.11): never re-wrapped, so a named
                    # graph under a simple @graph container keeps its
                    # name through a compact→expand round trip
                    out.append(node)
                else:
                    out.append({keys.GRAPH: [node]})
        return out

    expanded = _expand_element(ctx, key, value)
    if expanded is None:
        return None
    return _ensure_array(expanded)


# ---------------------------------------------------------------------------
# value expansion
# ---------------------------------------------------------------------------

def _expand_value(ctx: Context, active_key: str | None, value):
    """Scalar → value object ([spec] §5.2 Value Expansion)."""
    term = ctx.terms.get(active_key) if active_key else None
    t_type = term.type if term is not None and term.type is not UNDEF else None

    if t_type == keys.ID and isinstance(value, str):
        iri = _expand_id(ctx, value)
        return {keys.ID: iri} if iri is not None else None
    if t_type == keys.VOCAB and isinstance(value, str):
        iri = ctx.expand_iri(value, vocab=True)
        return {keys.ID: iri} if iri is not None else None

    result = {keys.VALUE: value}
    if t_type == keys.JSON:
        result[keys.TYPE] = keys.JSON
    elif t_type is not None and t_type not in (keys.NONE,):
        result[keys.TYPE] = t_type
    elif isinstance(value, str):
        lang = term.language if term is not None \
            and term.language is not UNDEF else ctx.language
        if lang:
            result[keys.LANG] = lang.lower() if isinstance(lang, str) else lang
        direction = term.direction if term is not None \
            and term.direction is not UNDEF else ctx.direction
        if direction:
            result[keys.DIRECTION] = direction
    return result


def _expand_value_object(ctx: Context, element: dict, kmap: dict,
                         val_key: str):
    """Explicit ``{"@value": ...}`` map → expanded value object
    ([spec] §5.1 steps 13.4.3-13.4.16)."""
    value = element[val_key]
    result = {}
    # [spec] §5.1 step 13.4.3: a value object admits ONLY @value, @type,
    # @language, @direction and @index (plus a local @context, consumed
    # by the caller) — anything else that survives step 13.3 is an
    # error, not a silent drop (keys that don't expand drop FIRST)
    extra = [k for k, e in kmap.items()
             if _key_survives(e) and e not in _VALUE_OBJECT_KEYS]
    if extra:
        raise InvalidValueObject(f"unexpected entries {extra!r}")
    is_json = any(
        e == keys.TYPE and (
            element[k] == keys.JSON
            or (isinstance(element[k], str)
                and ctx.expand_key(element[k]) == keys.JSON))
        for k, e in kmap.items())
    if not is_json and isinstance(value, (list, dict)):
        # [spec] §5.1 step 13.4.7.x: compound @value only under @json
        raise InvalidValueObjectValue(repr(value))
    for key, expanded_key in kmap.items():
        if expanded_key == keys.VALUE:
            result[keys.VALUE] = value
        elif expanded_key == keys.TYPE:
            t = element[key]
            if t == keys.JSON or (isinstance(t, str)
                                  and ctx.expand_key(t) == keys.JSON):
                result[keys.TYPE] = keys.JSON
            else:
                # [spec] §5.1 step 13.4.4.4: a value object's @type must
                # expand to an IRI/bnode — never a keyword (other than
                # @json, above) or an unexpandable string
                if not isinstance(t, str):
                    raise InvalidTypedValue(repr(t))
                t_iri = ctx.expand_iri(t, vocab=True)
                if t_iri is None or not (t_iri.startswith("_:")
                                         or _ABS_IRI_RE.match(t_iri)):
                    raise InvalidTypedValue(repr(t))
                result[keys.TYPE] = t_iri
        elif expanded_key == keys.LANG:
            lang = element[key]
            if lang is not None and not isinstance(lang, str):
                # [spec] §5.1 step 13.4.5
                raise InvalidLanguageTaggedString(repr(lang))
            if isinstance(lang, str):
                result[keys.LANG] = lang.lower()
        elif expanded_key == keys.DIRECTION:
            d = element[key]
            if d is not None and d not in ("ltr", "rtl"):
                # [spec] §5.1 step 13.4.6 (sweep 6: "up" passed through)
                raise InvalidBaseDirection(repr(d))
            if isinstance(d, str):
                result[keys.DIRECTION] = d
        elif expanded_key == keys.INDEX:
            if not isinstance(element[key], str):
                raise InvalidIndexValue(repr(element[key]))
            result[keys.INDEX] = element[key]
        elif expanded_key == keys.ANNOTATION:
            # JSON-LD-star draft: annotated VALUE — same expansion and
            # edge-shape rules as the node-object branch
            anns = []
            for item in _raw_array(element[key]):
                if not isinstance(item, dict):
                    raise InvalidAnnotation(repr(item))
                for node2 in _ensure_array(
                        _expand_element(ctx, key, item)):
                    if not isinstance(node2, dict) or any(
                            e in node2 for e in (keys.ID, keys.VALUE,
                                                 keys.LIST, keys.GRAPH)):
                        raise InvalidAnnotation(repr(node2))
                    anns.append(node2)
            if anns:
                result.setdefault(keys.ANNOTATION, []).extend(anns)
    # [spec] §5.1 step 13.4.3 (cont.): @type never coexists with
    # @language or @direction in a value object
    if keys.TYPE in result and (keys.LANG in result
                                or keys.DIRECTION in result):
        raise InvalidValueObject("@type with @language/@direction")
    # [spec] §5.1 step 13.4.11: a language tag on a non-string @value
    if keys.LANG in result and result.get(keys.VALUE) is not None \
            and not isinstance(result[keys.VALUE], str):
        raise InvalidLanguageTaggedValue(repr(result[keys.VALUE]))
    if result.get(keys.VALUE) is None and result.get(keys.TYPE) != keys.JSON:
        # null @value → dropped (B3); EXCEPT @json-typed value objects,
        # where null is a valid JSON literal ([spec] JSON-LD 1.1 §4.2.2)
        return None
    # NO default-language injection: explicit value objects pass through
    # ([spec] JLD-API §13.4); the default language applies only in Value
    # Expansion of raw strings. (Was injected pre-r02 — a round-trip bug:
    # compact({"@value": "x"}) could never re-expand to a plain string
    # under a default-language context.)
    return result


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

def _expand_embedded(ctx: Context, element: dict) -> dict:
    """JSON-LD-star draft "embedded node": an ``@id`` whose value is a
    map describing exactly ONE (non-asserted) triple — @id plus one
    property (or @type) with one value. Expanded form keeps the nested
    map: ``{"@id": <iri-or-nested>, <prop-iri>: [<expanded value>]}``.
    Twin of tordf._embedded_triple so both walks agree."""
    inner = ctx.load(element[keys.CONTEXT]) if keys.CONTEXT in element \
        else ctx
    kmap = {k: inner.expand_key(k) for k in element}
    if any(e == keys.ANNOTATION for e in kmap.values()):
        raise InvalidEmbeddedNode("@annotation inside an embedded node")
    id_key = next((k for k, e in kmap.items() if e == keys.ID), None)
    if id_key is None:
        raise InvalidEmbeddedNode("embedded node requires @id")
    idv = element[id_key]
    if isinstance(idv, dict):
        es = _expand_embedded(inner, idv)
    elif isinstance(idv, str):
        es = _expand_id(inner, idv)
        if es is None:
            raise InvalidEmbeddedNode(f"unresolvable embedded @id {idv!r}")
    else:
        raise InvalidIdValue(repr(idv))
    props = [(k, e) for k, e in kmap.items()
             if e not in (None, keys.CONTEXT, keys.ID)]
    if len(props) != 1:
        raise InvalidEmbeddedNode(
            f"embedded node needs exactly one property, got "
            f"{[k for k, _ in props]!r}")
    k, e = props[0]
    vals = element[k] if isinstance(element[k], list) else [element[k]]
    if len(vals) != 1:
        raise InvalidEmbeddedNode(
            f"embedded property {k!r} needs exactly one value")
    if e == keys.TYPE:
        t = vals[0]
        t_iri = inner.expand_iri(t, vocab=True) if isinstance(t, str) \
            else None
        if t_iri is None or t_iri in keys.KEYWORDS:
            raise InvalidEmbeddedNode(f"embedded @type {t!r}")
        return {keys.ID: es, keys.TYPE: [t_iri]}
    if e in keys.KEYWORDS:
        raise InvalidEmbeddedNode(f"keyword {e} in an embedded node")
    ev = _ensure_array(_expand_element(inner, k, vals[0]))
    if len(ev) != 1:
        raise InvalidEmbeddedNode(
            f"embedded value of {k!r} expanded to {len(ev)} objects")
    if isinstance(ev[0], dict) and keys.ANNOTATION in ev[0]:
        # the embedded triple is not asserted — nothing to annotate
        # (mirrors tordf: _to_object inside _embedded_triple receives
        # the value unstripped and raises through _add_to_graph)
        raise InvalidAnnotation("@annotation inside an embedded node")
    return {keys.ID: es, e: ev}


def _expand_id(ctx: Context, value: str) -> str | None:
    if value.startswith("_:"):
        return value
    iri = ctx.expand_iri(value, vocab=False)
    if iri is None or iri in keys.KEYWORDS:
        return None
    return iri


def _raw_array(v) -> list:
    if isinstance(v, list):
        return v
    if isinstance(v, dict) and keys.SET in v:
        # sibling rule ([spec] step 14.2) applies to keyword-position
        # set objects too — KEYWORD siblings are never droppable, so
        # they error even in this alias-blind helper (sweep 35: an @id
        # beside a keyword-position @set was silently dropped)
        bad = [k for k in v
               if k not in (keys.SET, keys.INDEX, keys.CONTEXT)
               and k in keys.KEYWORDS]
        if bad:
            raise InvalidSetOrListObject(f"@set with {bad!r}")
        inner = v[keys.SET]
        return inner if isinstance(inner, list) else [inner]
    return [v]


def _ensure_array(v) -> list:
    if v is None:
        return []
    return v if isinstance(v, list) else [v]
