"""The generated project: ``projects/tpch_demo`` with a subset of its
rules.

``expand`` copies the template's relations and outputs as they are and
keeps ``KEEP_SHARE`` of the optional rules, drawn with the fixed
``SUBSET_SEED``, plus their dependency closure: validation rules, rules
that relations or outputs name, and every rule a kept rule's expression
names.  The subset does not depend on the run seed: a per-seed subset
changed the number of type probes per build by half, and with it the
cost of every op.  ``edit_rule`` makes the meaning-preserving edit the
``rebuild`` op compiles: it wraps one ``[This]``-only scalar rule in
parentheses, or unwraps it.
"""

from __future__ import annotations

import os
import random
import re
import shutil

import yaml

_AGG_OR_WINDOW = re.compile(
    r"\b(SUM|COUNT|MAX|MIN|AVG|MAX_BY|MIN_BY|MEDIAN|collect_set|OVER)\b", re.I
)
_SOURCE_TOKEN = re.compile(r"\[(?!This\]|Related\])(\w+)\]")
KEEP_SHARE = 0.3
SUBSET_SEED = 0


def _words(text: str) -> set[str]:
    return set(re.findall(r"\w+", text))


def _load_template(template_dir: str) -> dict:
    def read(path: str):
        with open(path) as f:
            return yaml.safe_load(f)

    def read_dir(name: str) -> list:
        d = os.path.join(template_dir, name)
        return [read(os.path.join(d, fn)) for fn in sorted(os.listdir(d))]

    return {
        "meta": read(os.path.join(template_dir, "meta.yaml")),
        "relations": read(os.path.join(template_dir, "relations.yaml")),
        "sources": read_dir("sources"),
        "outputs": read_dir("outputs"),
    }


def _kept_rules(tpl: dict, keep_share: float) -> set:
    """``(source, rule)`` pairs kept."""
    pinned_text = yaml.safe_dump(tpl["relations"]) + yaml.safe_dump(tpl["outputs"])
    pinned = _words(pinned_text)
    rules = [
        (s["source_name"], r) for s in tpl["sources"] for r in s.get("rules") or []
    ]
    kept = {
        (src, r["name"])
        for src, r in rules
        if r.get("rule_type") == "V" or r["name"] in pinned
    }
    optional = [(src, r["name"]) for src, r in rules if (src, r["name"]) not in kept]
    rng = random.Random(SUBSET_SEED)
    kept |= set(rng.sample(optional, round(keep_share * len(optional))))
    changed = True
    while changed:
        named = set()
        for src, r in rules:
            if (src, r["name"]) in kept:
                named |= _words(r["expression"])
        grown = kept | {(src, r["name"]) for src, r in rules if r["name"] in named}
        changed = grown != kept
        kept = grown
    return kept


def expand(template_dir: str, out_dir: str) -> None:
    """Write the template to ``out_dir`` with the rules it keeps."""
    tpl = _load_template(template_dir)
    kept = _kept_rules(tpl, KEEP_SHARE)
    shutil.copytree(template_dir, out_dir, ignore=shutil.ignore_patterns("sources"))
    os.makedirs(os.path.join(out_dir, "sources"))
    for s in tpl["sources"]:
        s = dict(s, rules=[r for r in s.get("rules") or []
                           if (s["source_name"], r["name"]) in kept])
        _dump(os.path.join(out_dir, "sources", f"{s['source_name']}.yaml"), s)


def _dump(path: str, obj) -> None:
    with open(path, "w") as f:
        yaml.safe_dump(obj, f, sort_keys=False, width=1000)


def editable_rules(project_dir: str) -> list[tuple[str, str]]:
    """``(source file, rule name)`` for every ``[This]``-only scalar rule:
    wrapping those in parentheses cannot change what they compute."""
    out = []
    d = os.path.join(project_dir, "sources")
    for fn in sorted(os.listdir(d)):
        with open(os.path.join(d, fn)) as f:
            src = yaml.safe_load(f)
        for r in src.get("rules") or []:
            e = r["expression"]
            if (not r.get("unique") and not _AGG_OR_WINDOW.search(e)
                    and not _SOURCE_TOKEN.search(e)):
                out.append((fn, r["name"]))
    return out


def edit_rule(project_dir: str, source_file: str, rule: str, wrap: bool) -> None:
    """Wrap ``rule``'s expression in parentheses, or unwrap it, in place."""
    path = os.path.join(project_dir, "sources", source_file)
    with open(path) as f:
        src = yaml.safe_load(f)
    for r in src["rules"]:
        if r["name"] == rule:
            e = r["expression"]
            r["expression"] = f"({e})" if wrap else e[1:-1]
    _dump(path, src)
