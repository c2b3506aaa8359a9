"""In-process, single-thread replay of the fused NER -> REL -> EL kernel.

The replay calls the same public functions ``operators/fused.annotate_fused``
calls, in the same order and with the same arguments, and times each call
by layer: templates, el, kb, model, parsers and sharding. Its ents / rels /
kb_ids must equal what ``annotate_fused`` returns for the same documents;
the caller checks that.

Times are self times: ``el.build_el_prompt_s`` excludes the KB lookups and
the EL render it makes, ``sharding.*_s`` exclude the renders they call.
"""

from __future__ import annotations

import time
from collections import defaultdict
from typing import List, Optional

from spacy_llm_spark.functions.normalizers import (
    NORMALIZERS,
    build_label_dict,
    split_labels,
)
from spacy_llm_spark.functions.response_parsers import (
    attach_el_solutions,
    extract_span_reasons_cot,
    find_spans_cot,
    parse_el_solutions,
    parse_rel_response,
)
from spacy_llm_spark.kb import NIL, KnowledgeBase
from spacy_llm_spark.model import resolve_model
from spacy_llm_spark.operators.el import build_el_prompt
from spacy_llm_spark.operators.rel import preannotate
from spacy_llm_spark.operators.sharding import make_shards, shard_for_task
from spacy_llm_spark.templates import render_ner_prompt, render_rel_prompt
from spacy_llm_spark.tokenizer import filter_spans

# Arrow batch size the session uses (spark.sql.execution.arrow.maxRecordsPerBatch):
# the kernel calls each model once per batch, so the replay does too.
BATCH = 1024

KERNEL_UNITS = {
    "templates.render_ner_s": "s",
    "templates.render_rel_s": "s",
    "el.build_el_prompt_s": "s",
    "kb.get_candidates_s": "s",
    "kb.lookups": "count",
    "kb.hit_ratio": "ratio",
    "model.ner_s": "s",
    "model.rel_s": "s",
    "model.el_s": "s",
    "model.prompts": "count",
    "model.prompt_bytes": "B",
    "parsers.ner_s": "s",
    "parsers.rel_s": "s",
    "parsers.el_s": "s",
    "parsers.spans": "count",
    "parsers.relations": "count",
    "parsers.nil_ratio": "ratio",
    "sharding.make_shards_s": "s",
    "sharding.shard_for_task_s": "s",
    "sharding.renders": "count",
    "sharding.prompts": "count",
    "sharding.accept_ratio": "ratio",
    "fused.kernel_s_per_doc": "s",
}
COUNTS = (
    "kb.lookups", "model.prompts", "model.prompt_bytes", "parsers.spans",
    "parsers.relations", "sharding.renders", "sharding.prompts",
)


class _Clock:
    """Accumulates time per key. A timed call nested in another is
    subtracted from the enclosing call's key, so every key is self time."""

    def __init__(self):
        self.t: dict = defaultdict(float)
        self.n: dict = defaultdict(int)
        self._stack: list = []

    def call(self, key, fn, *args):
        self._stack.append(0.0)
        t0 = time.perf_counter()
        try:
            return fn(*args)
        finally:
            dt = time.perf_counter() - t0
            nested = self._stack.pop()
            self.t[key] += dt - nested
            if self._stack:
                self._stack[-1] += dt


def replay(texts: List[str], cfg, kb: KnowledgeBase) -> tuple:
    """Run the kernel over ``texts`` with ``cfg`` (a ``KGConfig`` whose
    span_format is 'cot' and allow_overlap False, as the workloads use).
    Returns (per-doc (ents, rels, kb_ids), metrics)."""
    clock = _Clock()
    labels = split_labels(list(cfg.labels))
    rel_labels = split_labels(list(cfg.rel_labels))
    norm = NORMALIZERS["lowercase"]
    label_dict = build_label_dict(labels, norm)
    cl: Optional[int] = cfg.context_length
    ner_model = resolve_model(cfg.ner_model_spec())
    rel_model = resolve_model(cfg.rel_model_spec())
    el_model = resolve_model(cfg.el_model_spec())
    local_kb = KnowledgeBase.from_json(kb.to_json())
    lookup = local_kb.get_candidates

    def get_candidates(mention, top_n=5):
        cands = clock.call("kb.get_candidates_s", lookup, mention, top_n)
        clock.n["kb.lookups"] += 1
        clock.n["kb.hits"] += bool(cands)
        return cands

    local_kb.get_candidates = get_candidates

    def counted(key, render):
        def wrapped(*args):
            clock.n["sharding.renders"] += 1
            return clock.call(key, render, *args)

        return wrapped

    def render_ner(text):
        return render_ner_prompt(text, labels, cfg.label_definitions, cfg.ner_examples)

    def rel_render(t, sp):
        return render_rel_prompt(preannotate(t, sp), rel_labels, examples=cfg.rel_examples)

    def model_call(key, model, prompts):
        clock.n["model.prompts"] += len(prompts)
        clock.n["model.prompt_bytes"] += sum(len(p.encode()) for p in prompts)
        return clock.call(key, model, prompts)

    def fanout(key, render, text, spans):
        if cl is None:
            return [(0, text, spans, clock.call(key, render, text, spans))]
        subs = clock.call(
            "sharding.shard_for_task_s", shard_for_task, text, spans, cl,
            counted(key, render),
        )
        clock.n["sharding.prompts"] += len(subs)
        return subs

    results = []
    t_start = time.perf_counter()
    for b0 in range(0, len(texts), BATCH):
        batch = texts[b0 : b0 + BATCH]
        doc_shards, ner_prompts = [], []
        for text in batch:
            if cl is None:
                shards = [(0, text, clock.call("templates.render_ner_s", render_ner, text))]
            else:
                shards = clock.call(
                    "sharding.make_shards_s", make_shards, text, cl,
                    counted("templates.render_ner_s", render_ner),
                )
                clock.n["sharding.prompts"] += len(shards)
            doc_shards.append([(off, st) for off, st, _ in shards])
            ner_prompts.extend(p for _, _, p in shards)
        ner_responses = model_call("model.ner_s", ner_model, ner_prompts)

        def parse_spans(shard_text, response):
            reasons = extract_span_reasons_cot(response, label_dict, norm)
            spans = find_spans_cot(
                shard_text, reasons, case_sensitive=False,
                alignment_mode="contract", allow_overlap=False,
            )
            return filter_spans(spans)

        doc_shard_spans, r = [], 0
        for shards in doc_shards:
            per_shard = []
            for _off, shard_text in shards:
                spans = clock.call("parsers.ner_s", parse_spans, shard_text, ner_responses[r])
                clock.n["parsers.spans"] += len(spans)
                per_shard.append(spans)
                r += 1
            doc_shard_spans.append(per_shard)

        rel_prompts, rel_sub_counts = [], []
        for shards, shard_spans in zip(doc_shards, doc_shard_spans):
            for (_off, shard_text), spans in zip(shards, shard_spans):
                subs = fanout("templates.render_rel_s", rel_render, shard_text, spans)
                rel_sub_counts.append([len(sp) for _, _, sp, _ in subs])
                rel_prompts.extend(p for _, _, _, p in subs)
        rel_responses = model_call("model.rel_s", rel_model, rel_prompts)

        el_flags: dict = {}

        def el_render(t, sp):
            prompt, in_prompt = build_el_prompt(
                t, sp, local_kb, cfg.top_n_candidates, cfg.auto_nil,
                cfg.el_examples or [],
            )
            el_flags[(t, tuple(sp))] = in_prompt
            return prompt

        el_prompts, el_sub_in_prompt = [], []
        for shards, shard_spans in zip(doc_shards, doc_shard_spans):
            for (_off, shard_text), spans in zip(shards, shard_spans):
                subs = fanout("el.build_el_prompt_s", el_render, shard_text, spans)
                el_prompts.extend(p for _, _, _, p in subs)
                el_sub_in_prompt.append([el_flags[(st, tuple(sp))] for _, st, sp, _ in subs])
        el_responses = model_call("model.el_s", el_model, el_prompts)

        def parse_rels(response, n_sub):
            return parse_rel_response(response, n_sub)

        def parse_el(response, in_prompt):
            attached = attach_el_solutions(in_prompt, parse_el_solutions(response))
            return [NIL] * len(in_prompt) if attached is None else attached

        shard_idx = rel_r = el_r = 0
        for text, shards, shard_spans in zip(batch, doc_shards, doc_shard_spans):
            ents, rels, kb_ids = [], [], []
            ent_offset = 0
            for (offset, _shard_text), spans in zip(shards, shard_spans):
                local_off = 0
                for n_sub in rel_sub_counts[shard_idx]:
                    parsed = clock.call("parsers.rel_s", parse_rels, rel_responses[rel_r], n_sub)
                    rels.extend(
                        (dep + ent_offset + local_off, dest + ent_offset + local_off, rel)
                        for dep, dest, rel in parsed
                    )
                    local_off += n_sub
                    rel_r += 1
                for in_prompt in el_sub_in_prompt[shard_idx]:
                    kb_ids.extend(clock.call("parsers.el_s", parse_el, el_responses[el_r], in_prompt))
                    el_r += 1
                ents.extend(
                    (s + offset, e + offset, label, text[s + offset : e + offset])
                    for s, e, label in spans
                )
                ent_offset += len(spans)
                shard_idx += 1
            clock.n["parsers.relations"] += len(rels)
            clock.n["parsers.nils"] += sum(k == NIL for k in kb_ids)
            clock.n["parsers.kb_ids"] += len(kb_ids)
            results.append((ents, rels, kb_ids))
    kernel_s = time.perf_counter() - t_start

    metrics = {k: clock.t[k] for k in KERNEL_UNITS if k.endswith("_s")}
    metrics.update({k: float(clock.n[k]) for k in COUNTS})
    metrics["kb.hit_ratio"] = clock.n["kb.hits"] / max(clock.n["kb.lookups"], 1)
    metrics["parsers.nil_ratio"] = clock.n["parsers.nils"] / max(clock.n["parsers.kb_ids"], 1)
    metrics["sharding.accept_ratio"] = clock.n["sharding.prompts"] / max(
        clock.n["sharding.renders"], 1
    )
    metrics["fused.kernel_s_per_doc"] = kernel_s / max(len(texts), 1)
    return results, metrics
