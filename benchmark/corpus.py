"""Seeded herbal content corpus and the pure-Python model of its answers.

The corpus has the shape of the staticql herbal example (the config in
``CONFIG``): Markdown-frontmatter herbs and recipes, multi-record YAML tags,
compounds, recipe groups and processes, joined by ``hasMany``,
``hasManyThrough`` and ``hasOneThrough`` relations.  ``Corpus(seed)`` builds
the records, ``Corpus.write(root)`` lays them out as files, and the model
methods (``herb_slugs``, ``recipes_of_herb``, ``index_entries``) answer the
benchmark's reads and index read-backs from the records alone, so every
Spark answer is checked against an independent model.
"""

from __future__ import annotations

import os
import random
import shutil

import yaml

STRING = {"type": "string"}
STR_ARRAY = {"type": "array", "items": {"type": "string"}}

CONFIG = {
    "sources": {
        "herbs": {
            "pattern": "content/herbs/*.md",
            "type": "markdown",
            "schema": {
                "type": "object",
                "properties": {
                    "name": STRING,
                    "compoundSlugs": STR_ARRAY,
                    "tagSlugs": STR_ARRAY,
                    "overview": STRING,
                    "efficacy": {"type": ["string", "null"]},
                },
                "required": ["name", "tagSlugs", "overview"],
            },
            "relations": {
                "compounds": {
                    "type": "hasMany",
                    "to": "compounds",
                    "localKey": "compoundSlugs",
                    "foreignKey": "slug",
                },
                "tags": {
                    "type": "hasMany",
                    "to": "tags",
                    "localKey": "tagSlugs",
                    "foreignKey": "slug",
                },
                "recipes": {
                    "type": "hasManyThrough",
                    "to": "recipes",
                    "through": "recipeGroups",
                    "sourceLocalKey": "slug",
                    "throughForeignKey": "combinedHerbs.slug",
                    "throughLocalKey": "slug",
                    "targetForeignKey": "recipeGroupSlug",
                },
            },
            "index": ["name", "compoundSlugs", "tagSlugs"],
        },
        "tags": {
            "pattern": "content/tags.yaml",
            "type": "yaml",
            "schema": {"type": "object", "properties": {"name": STRING}, "required": ["name"]},
        },
        "compounds": {
            "pattern": "content/compounds.yaml",
            "type": "yaml",
            "schema": {"type": "object", "properties": {"name": STRING}, "required": ["name"]},
        },
        "recipes": {
            "pattern": "content/recipes/**/*.md",
            "type": "markdown",
            "schema": {
                "type": "object",
                "properties": {
                    "recipeGroupSlug": STRING,
                    "summary": {"type": ["string", "null"]},
                    "processSlug": {"type": ["string", "null"]},
                    "recipe": STR_ARRAY,
                },
                "required": ["recipeGroupSlug", "recipe"],
            },
            "relations": {
                "herbs": {
                    "type": "hasManyThrough",
                    "to": "herbs",
                    "through": "recipeGroups",
                    "sourceLocalKey": "recipeGroupSlug",
                    "throughForeignKey": "slug",
                    "throughLocalKey": "combinedHerbs.slug",
                    "targetForeignKey": "slug",
                },
                "process": {
                    "type": "hasOneThrough",
                    "to": "processes",
                    "through": "recipeGroups",
                    "sourceLocalKey": "recipeGroupSlug",
                    "throughForeignKey": "slug",
                    "throughLocalKey": "processSlug",
                    "targetForeignKey": "slug",
                },
            },
            "index": ["herbs.slug"],
        },
        "recipeGroups": {
            "pattern": "content/recipeGroups.yaml",
            "type": "yaml",
            "schema": {
                "type": "object",
                "properties": {
                    "processSlug": STRING,
                    "combinedHerbs": {
                        "type": "array",
                        "items": {
                            "type": "object",
                            "properties": {
                                "slug": STRING,
                                "herbStateSlug": STRING,
                                "herbPartSlug": STRING,
                            },
                            "required": ["slug"],
                        },
                    },
                },
                "required": ["processSlug", "combinedHerbs"],
            },
        },
        "processes": {
            "pattern": "content/processes.yaml",
            "type": "yaml",
            "schema": {"type": "object", "properties": {"name": STRING}, "required": ["name"]},
        },
    }
}

HERB_INDEX = ("name", "compoundSlugs", "tagSlugs")
PAGE = 20  # the library's default page size

_LATIN = "ar ba ca de fo gi la lu ma mi na no pa ra sa ta ti ve zo ul or en is um".split()
_KANA = list("アイウエオカキクケコサシスセソタチツテトナニヌネノハヒフヘホマミムメモヤユヨラリルレロワン")
_WORDS = "leaf root seed bark flower tea oil warm cool bitter sweet calm dry fresh".split()
_PROCESSES = ["infusion", "decoction", "tincture", "powder", "poultice", "bath"]


def _word(rng: random.Random, parts: list[str], lo: int, hi: int) -> str:
    return "".join(rng.choice(parts) for _ in range(rng.randint(lo, hi)))


def _unique(rng: random.Random, n: int, make) -> list[str]:
    seen: set[str] = set()
    out: list[str] = []
    while len(out) < n:
        w = make(rng)
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _prefix(value: str) -> str:
    """Index partition of a value: its first code point as >= 4 hex digits."""
    return f"{ord(value[0]):04x}" if value else "0000"


class Corpus:
    """Records of every source, keyed by slug, plus their file layout."""

    def __init__(self, seed: int, herbs: int = 400, grouped: int = 360):
        rng = random.Random(seed)
        self.rng = rng
        self.tags = {
            s: {"name": _word(rng, _KANA, 2, 4)}
            for s in _unique(rng, 40, lambda r: _word(r, _LATIN, 2, 4))
        }
        self.compounds = {
            s: {"name": _word(rng, _KANA, 3, 6)}
            for s in _unique(rng, 150, lambda r: _word(r, _LATIN, 3, 5) + "in")
        }
        self.processes = {p: {"name": p.upper()} for p in _PROCESSES}
        self.herbs = {}
        for slug in _unique(rng, herbs, lambda r: _word(r, _LATIN, 2, 3) + "-" + _word(r, _LATIN, 2, 4)):
            self.herbs[slug] = self._herb(rng)
        # Herbs past ``grouped`` belong to no recipe group, so adding or
        # deleting them never touches the recipes index.
        self.grouped = sorted(self.herbs)[:grouped]
        self.groups = {}
        for g in range(1, 121):
            members = rng.sample(self.grouped, rng.randint(1, 3))
            self.groups[f"recipeGroup{g:03d}"] = {
                "processSlug": rng.choice(_PROCESSES),
                "combinedHerbs": [
                    {"slug": m, "herbStateSlug": rng.choice(["dry", "fresh"]),
                     "herbPartSlug": rng.choice(["root", "leaf", "seed"])}
                    for m in members
                ],
            }
        self.recipes = {}
        for n in range(200):
            group = f"recipeGroup{rng.randint(1, 120):03d}"
            self.recipes[f"{group}--{n:03d}"] = self._recipe(rng, group)
        self._added = 0

    def _herb(self, rng: random.Random) -> dict:
        return {
            "name": _word(rng, _KANA, 2, 5),
            "compoundSlugs": rng.sample(sorted(self.compounds), rng.randint(1, 4)),
            "tagSlugs": rng.sample(sorted(self.tags), rng.randint(1, 3)),
            "overview": " ".join(rng.choice(_WORDS) for _ in range(rng.randint(4, 12))),
            "efficacy": rng.choice([None, " ".join(rng.sample(_WORDS, 3))]),
            "body": " ".join(rng.choice(_WORDS) for _ in range(rng.randint(40, 120))),
        }

    def _recipe(self, rng: random.Random, group: str) -> dict:
        return {
            "recipeGroupSlug": group,
            "summary": " ".join(rng.sample(_WORDS, 2)),
            "processSlug": self.groups[group]["processSlug"],
            "recipe": [" ".join(rng.sample(_WORDS, 3)) for _ in range(rng.randint(1, 4))],
        }

    # ------------------------------------------------------------ files
    def write(self, root: str) -> None:
        content = os.path.join(root, "content")
        if os.path.exists(content):
            shutil.rmtree(content)
        os.makedirs(os.path.join(content, "herbs"))
        for slug in self.herbs:
            self.write_herb(root, slug)
        for slug in self.recipes:
            self.write_recipe(root, slug)
        for name, recs in (("tags", self.tags), ("compounds", self.compounds),
                           ("processes", self.processes), ("recipeGroups", self.groups)):
            rows = [{"slug": s, **r} for s, r in recs.items()]
            _write(os.path.join(content, f"{name}.yaml"), yaml.safe_dump(rows, allow_unicode=True, sort_keys=False))

    def write_herb(self, root: str, slug: str) -> None:
        rec = dict(self.herbs[slug])
        body = rec.pop("body")
        _write(os.path.join(root, "content", "herbs", f"{slug}.md"), _frontmatter(rec, body))

    def write_recipe(self, root: str, slug: str) -> None:
        group, n = slug.split("--")
        _write(os.path.join(root, "content", "recipes", group, f"{n}.md"), _frontmatter(self.recipes[slug], ""))

    def content_bytes(self, root: str) -> int:
        total = 0
        for d, _, files in os.walk(os.path.join(root, "content")):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
        return total

    # ------------------------------------------------------------ edits
    def edit_batch(self, root: str, size: int) -> list[tuple[str, str, str]]:
        """Apply ``size`` seeded herb edits (add, modify, delete) to the files
        under ``root`` and to the model; returns the DiffEntry rows
        ``(status, source, slug)``.  Only herbs outside every recipe group
        are deleted, so the recipes index never goes stale."""
        rng = self.rng
        diff = []
        for _ in range(size):
            kind = rng.choice(["add", "modify", "modify", "delete"])
            ungrouped = sorted(set(self.herbs) - set(self.grouped))
            if kind == "delete" and len(ungrouped) > 1:
                slug = rng.choice(ungrouped)
                del self.herbs[slug]
                os.remove(os.path.join(root, "content", "herbs", f"{slug}.md"))
                diff.append(("D", "herbs", slug))
            elif kind == "modify":
                slug = rng.choice(sorted(self.herbs))
                fresh = self._herb(rng)
                for field in HERB_INDEX:
                    self.herbs[slug][field] = fresh[field]
                self.write_herb(root, slug)
                diff.append(("M", "herbs", slug))
            else:
                self._added += 1
                slug = f"zz{self._added:04d}-{_word(rng, _LATIN, 2, 3)}"
                self.herbs[slug] = self._herb(rng)
                self.write_herb(root, slug)
                diff.append(("A", "herbs", slug))
        return diff

    # ------------------------------------------------------------ model
    def herb_slugs(self, flt=None, order: str = "slug", desc: bool = False) -> list[str]:
        """Herb slugs passing ``flt`` (a record predicate) in page order."""
        def key(s):
            return (self.herbs[s]["name"] if order == "name" else s, s)

        rows = [s for s in self.herbs if flt is None or flt(self.herbs[s])]
        return sorted(rows, key=key, reverse=desc)

    def recipes_of_herb(self, herb: str) -> list[str]:
        """``herbs.recipes`` (hasManyThrough): recipe slugs in (group, slug) order."""
        groups = {g for g, rec in self.groups.items() if any(m["slug"] == herb for m in rec["combinedHerbs"])}
        hits = [(r["recipeGroupSlug"], s) for s, r in self.recipes.items() if r["recipeGroupSlug"] in groups]
        return [s for _, s in sorted(hits)]

    def herbs_of_recipe(self, recipe: str) -> list[str]:
        """``recipes.herbs`` (hasManyThrough): distinct existing herb slugs."""
        group = self.groups.get(self.recipes[recipe]["recipeGroupSlug"])
        if group is None:
            return []
        return sorted({m["slug"] for m in group["combinedHerbs"]} & set(self.herbs))

    def index_entries(self, source: str, slug: str) -> set[tuple[str, str, str]]:
        """Expected covering-index rows ``(field, v, prefix)`` of one record.

        Besides the declared fields, every source indexes its slug and its
        relation keys (``recipeGroupSlug`` for recipes)."""
        if source == "recipes":
            if slug not in self.recipes:
                return set()
            group = self.recipes[slug]["recipeGroupSlug"]
            out = {("slug", slug, _prefix(slug)), ("recipeGroupSlug", group, _prefix(group))}
            return out | {("herbs.slug", h, _prefix(h)) for h in self.herbs_of_recipe(slug)}
        rec = self.herbs.get(slug)
        if rec is None:
            return set()
        out = {("slug", slug, _prefix(slug))}
        for field in HERB_INDEX:
            vals = rec[field] if isinstance(rec[field], list) else [rec[field]]
            out |= {(field, v, _prefix(v)) for v in vals}
        return out

    def records(self) -> dict[str, int]:
        """Records per source."""
        return {"herbs": len(self.herbs), "tags": len(self.tags), "compounds": len(self.compounds),
                "recipes": len(self.recipes), "recipeGroups": len(self.groups),
                "processes": len(self.processes)}

    def index_size(self, source: str) -> int:
        slugs = self.recipes if source == "recipes" else self.herbs
        return sum(len(self.index_entries(source, s)) for s in slugs)


def _frontmatter(rec: dict, body: str) -> str:
    head = yaml.safe_dump(rec, allow_unicode=True, sort_keys=False)
    return f"---\n{head}---\n{body}\n"


def _write(path: str, text: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        f.write(text)
