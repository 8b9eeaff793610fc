#!/usr/bin/env bash
# Print the line count of the main Scala sources (src/main/**/*.scala),
# leaving out blank lines and comment lines: those whose first non-space
# characters are `//`, `*` or `/**`.
# Usage: scripts/main_loc.sh [repo-root]   (default: this script's repo)
set -euo pipefail
root="${1:-$(cd "$(dirname "$0")/.." && pwd)}"
find "$root/src/main" -name '*.scala' -print0 | sort -z \
  | xargs -0 cat \
  | grep -Ev '^[[:space:]]*($|//|\*|/\*\*)' \
  | wc -l | tr -d ' '
