"""Task/model/misc registries — the extension surface (S10, §2.12).

The reference's registry catalogues (llm_tasks / llm_models / llm_misc,
spacy_llm/registry/util.py:4-13) let users plug in custom tasks as a
(prompt-generator, response-parser) pair. Our equivalent: register a
factory that turns a config dict into a DataFrame -> DataFrame stage, or
a custom model spec builder (model.py already resolves specs by name).

A custom task is exactly the reference's protocol translated: supply
``render(text) -> prompt`` and ``parse(response) -> value`` plus an
output Spark type, and ``make_custom_task`` builds the narrow stage
(tests/tasks/test_custom.py analog in tests/test_registry.py).
"""

from __future__ import annotations

from typing import Callable, Dict

from pyspark.sql import DataFrame
from pyspark.sql.types import DataType

_TASKS: Dict[str, Callable[..., DataFrame]] = {}
_MISC: Dict[str, Callable] = {}


def get_task(name: str):
    if name not in _TASKS:
        raise KeyError(f"Unknown task '{name}'. Registered: {sorted(_TASKS)}")
    return _TASKS[name]


def registered_tasks():
    return sorted(_TASKS)


def register_misc(name: str):
    def deco(fn):
        _MISC[name] = fn
        return fn

    return deco


def get_misc(name: str):
    return _MISC[name]


def make_custom_task(
    *,
    render: Callable[[str], str],
    parse: Callable[[str], object],
    out_col: str,
    out_type: DataType,
    model_spec: dict,
    text_col: str = "content",
):
    """Build a custom single-output task stage from a render/parse pair
    (the reference's minimal task protocol, ty.py:95-137)."""
    from .operators.tasks import _single_output_stage

    def stage(df: DataFrame) -> DataFrame:
        return _single_output_stage(
            df,
            model_spec=model_spec,
            render=render,
            parse=parse,
            out_col=out_col,
            out_type=out_type,
            text_col=text_col,
        )

    return stage


# built-in tasks registered under reference-style names
def _register_builtins():
    from .operators import tasks as t

    for name, fn in {
        "spacy.TextCat.v3": t.classify_text,
        "spacy.Lemma.v1": t.lemmatize,
        "spacy.Sentiment.v1": t.score_sentiment,
        "spacy.Summarization.v1": t.summarize,
        "spacy.Translation.v1": t.translate,
        "spacy.Raw.v1": t.raw_prompt,
    }.items():
        _TASKS.setdefault(name, fn)


_register_builtins()
