#!/bin/sh
# Pre-commit smoke (VERDICT r3 item 7): catch an environment-induced break
# of the hot events table at commit time, not judge time. Runs the full
# driver contract for ONE events query, ONE non-events query and the
# binlog CDC stream (whose state merge and FINAL read have a one-stage
# and an exchange plan shape) at sf0.001 (~40 s).
# Usage: scripts/smoke.sh   (or: make smoke)
set -e
cd "$(dirname "$0")/.."
python scripts/drive_contract.py --sf /root/testdata/sf0.001 --only h1_tumbling
python scripts/drive_contract.py --sf /root/testdata/sf0.001 --only d1_group_basic
python scripts/drive_contract.py --sf /root/testdata/sf0.001 --only a35c_binlog_stream
