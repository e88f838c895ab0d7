#!/usr/bin/env bash
# Print the number of code lines under src/main: every line of every file,
# less blank lines and lines whose first non-blank characters are `//`,
# `/*` or `*` (comment and scaladoc lines).
#
# Usage: scripts/loc.sh [dir]   (dir defaults to this checkout's src/main)
set -euo pipefail
DIR="${1:-$(cd "$(dirname "$0")/.." && pwd)/src/main}"
grep -rhvE '^[[:space:]]*($|//|/\*|\*)' "$DIR" | wc -l
