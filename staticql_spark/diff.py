"""Change capture: two git refs -> DiffEntry records (§2.9 T1).

Parity with the reference's extractDiff (src/diff/extractDiff.ts:22-150):
- file-level A/D/M from ``git diff --name-status ref1 ref2``
- files that hold MULTIPLE records (YAML/JSON lists) are diffed
  record-wise by slug: a record present only in the new version is A,
  only in the old is D, changed is M (:137-149)
- M entries whose *indexed* fields are all unchanged are skipped
  (:124-129) — they cannot affect any index artifact
- renamed files (R status) decompose into D + A

Providers (src/diff/providers/): both share one DiffProvider contract —
``diff_lines(ref1, ref2)`` file-level statuses + ``show(ref, path)`` file
content at a ref:
- ``GitCliProvider`` — local ``git diff --name-status`` / ``git show``
  (src/diff/providers/git.ts)
- ``GitHubDiffProvider`` — the GitHub compare + contents API
  (src/diff/providers/github.ts:27-71), injectable fetch for offline tests.

The output is a plain list of dicts (one per record-level change) that
``spark.createDataFrame(entries, DIFF_SCHEMA)`` turns into the changes
DataFrame consumed by streaming.apply_diff / refresh_index_partitions.
"""

from __future__ import annotations

import json
import subprocess
import urllib.request
from collections.abc import Callable

from .config import SourceConfig
from .functions import glob_base_and_regex, path_to_slug
from .sources.parsers import get_parser


class GitCliProvider:
    """DiffProvider over a local clone (src/diff/providers/git.ts)."""

    def __init__(self, repo_dir: str):
        self.repo_dir = repo_dir

    def diff_lines(self, ref1: str, ref2: str) -> list[tuple[str, str]]:
        """[(status, path)] with renames decomposed into D + A."""
        res = subprocess.run(
            ["git", "-C", self.repo_dir, "diff", "--name-status", ref1, ref2],
            capture_output=True,
            text=True,
            check=True,
        )
        out: list[tuple[str, str]] = []
        for line in res.stdout.splitlines():
            parts = line.split("\t")
            if not parts or not parts[0]:
                continue
            status = parts[0][0]
            if status == "R" and len(parts) == 3:
                out += [("D", parts[1]), ("A", parts[2])]
            elif status in ("A", "D", "M"):
                out.append((status, parts[1]))
        return out

    def show(self, ref: str, path: str) -> str | None:
        res = subprocess.run(
            ["git", "-C", self.repo_dir, "show", f"{ref}:{path}"],
            capture_output=True,
            text=True,
        )
        return res.stdout if res.returncode == 0 else None


def _default_fetch(url: str, headers: dict[str, str]) -> tuple[int, bytes]:
    req = urllib.request.Request(url, headers=headers)
    try:
        with urllib.request.urlopen(req, timeout=30) as res:
            return res.status, res.read()
    except urllib.error.HTTPError as exc:  # non-2xx still carries a body
        return exc.code, exc.read()


class GitHubDiffProvider:
    """DiffProvider over the GitHub REST API — no clone needed
    (src/diff/providers/github.ts:27-71).

    ``fetch`` is injectable (``(url, headers) -> (status, body)``) so tests
    run against canned responses; default is urllib.
    """

    def __init__(
        self,
        repo: str,
        token: str | None = None,
        api_url: str = "https://api.github.com",
        fetch: Callable[[str, dict], tuple[int, bytes]] | None = None,
    ):
        self.repo = repo
        self.token = token
        self.api_url = api_url.rstrip("/")
        self._fetch = fetch or _default_fetch

    def _headers(self, accept: str) -> dict[str, str]:
        headers = {"Accept": accept}
        if self.token:
            headers["Authorization"] = f"token {self.token}"
        return headers

    def diff_lines(self, ref1: str, ref2: str) -> list[tuple[str, str]]:
        """File-level statuses from the compare endpoint. added/removed/
        modified map to A/D/M; GitHub's 'renamed' entries decompose into
        D(previous_filename) + A(filename) to match GitCliProvider — the
        reference (:43-53) silently drops renames, which loses index
        updates for both paths; a documented divergence-as-fix."""
        url = f"{self.api_url}/repos/{self.repo}/compare/{ref1}...{ref2}"
        status, body = self._fetch(url, self._headers("application/vnd.github.v3+json"))
        data = json.loads(body or b"{}")
        if status >= 300:
            msg = data.get("message", status) if isinstance(data, dict) else status
            raise RuntimeError(f"GitHub API error fetching diff compare: {msg}")
        files = data.get("files")
        if not isinstance(files, list):
            return []
        status_map = {"added": "A", "removed": "D", "modified": "M"}
        out: list[tuple[str, str]] = []
        for f in files:
            st = f.get("status")
            if st == "renamed" and f.get("previous_filename"):
                out.append(("D", f["previous_filename"]))
                out.append(("A", f["filename"]))
            elif st in status_map:
                out.append((status_map[st], f["filename"]))
        return out

    def show(self, ref: str, path: str) -> str | None:
        """Raw file content at a ref via the contents endpoint. A 404 maps
        to None (absent side of an A/D probe — the core's contract); other
        errors raise like the reference (:56-70)."""
        url = f"{self.api_url}/repos/{self.repo}/contents/{path}?ref={ref}"
        status, body = self._fetch(url, self._headers("application/vnd.github.v3.raw"))
        if status == 404:
            return None
        if status >= 300:
            raise RuntimeError(f"GitHub API error fetching file {path}@{ref}: {status}")
        return body.decode("utf-8")


def _match_source(path: str, configs: dict[str, SourceConfig]) -> tuple[str, str] | None:
    """(source_name, rel_path_under_glob_base) for the config whose glob
    matches ``path``, else None."""
    for name, cfg in configs.items():
        if cfg.type == "parquet" or not cfg.pattern:
            continue
        base, rx = glob_base_and_regex(cfg.pattern)
        if path == base:  # wildcard-free pattern: the file itself
            return name, ""
        prefix = base + "/" if base else ""
        if path.startswith(prefix) and rx.match(path[len(prefix):]):
            return name, path[len(prefix):]
    return None


def _records_by_slug(cfg: SourceConfig, rel_path: str, raw: str | None) -> dict[str, dict]:
    if raw is None:
        return {}
    parsed = get_parser(cfg.type)(raw)
    if isinstance(parsed, list):
        return {str(r["slug"]): r for r in parsed if r.get("slug") is not None}
    return {path_to_slug(rel_path): parsed}


def _indexed_view(cfg: SourceConfig, rec: dict) -> dict:
    """Projection of a record to its indexed fields (for the skip-unchanged
    check). Relation-path indexes can't be evaluated file-locally — any
    change keeps the record conservatively."""
    out = {}
    for f in cfg.index_fields:
        if "." in f and f.split(".", 1)[0] in cfg.relations:
            continue
        out[f] = rec.get(f.split(".", 1)[0]) if "." in f else rec.get(f)
    return out


def extract_diff_with_provider(
    provider,
    ref1: str,
    ref2: str,
    configs: dict[str, SourceConfig],
) -> list[dict]:
    """DiffEntry list [{status, source, slug}] between two refs, from any
    DiffProvider (record-level semantics identical across providers)."""
    entries: list[dict] = []
    for st, path in provider.diff_lines(ref1, ref2):
        hit = _match_source(path, configs)
        if hit is None:
            continue
        source, rel = hit
        cfg = configs[source]
        old = _records_by_slug(cfg, rel, provider.show(ref1, path))
        new = _records_by_slug(cfg, rel, provider.show(ref2, path))
        if st == "A":
            for slug in new:
                entries.append({"status": "A", "source": source, "slug": slug})
        elif st == "D":
            for slug in old:
                entries.append({"status": "D", "source": source, "slug": slug})
        else:  # M: record-wise diff by slug
            for slug in new.keys() - old.keys():
                entries.append({"status": "A", "source": source, "slug": slug})
            for slug in old.keys() - new.keys():
                entries.append({"status": "D", "source": source, "slug": slug})
            for slug in new.keys() & old.keys():
                if _indexed_view(cfg, old[slug]) != _indexed_view(cfg, new[slug]):
                    entries.append({"status": "M", "source": source, "slug": slug})
    return entries


def extract_diff(
    repo_dir: str,
    ref1: str,
    ref2: str,
    configs: dict[str, SourceConfig],
) -> list[dict]:
    """DiffEntry list between two refs of a local clone (git-CLI provider)."""
    return extract_diff_with_provider(GitCliProvider(repo_dir), ref1, ref2, configs)
