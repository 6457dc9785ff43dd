#!/bin/bash
# Host-state bracket probe for scaling measurements (BASELINE.md protocol).
# Prints one JSON line with:
#  - burn4s: iterations of a single-proc sha256(64KiB) loop in 4s, pinned to
#    the LAST vCPU (this round's probe; quiet reference calibrated in-window
#    and recorded in BASELINE.md — the rounds-4/5 "1073-iters" probe was a
#    different loop body and is not unit-comparable)
#  - steal_pct / idle_pct: absolute co-tenant interference and headroom from
#    /proc/stat deltas over the same 4s window (ground truth: steal ticks are
#    cycles the hypervisor gave to co-tenants while we were runnable)
read -r _ u1 n1 s1 i1 w1 q1 sq1 st1 _ < /proc/stat
t0=$(date +%s%3N)
iters=$(taskset -c $(( $(nproc) - 1 )) python3 - <<'EOF'
import hashlib, time
blk = b'x' * 65536
t0 = time.time(); n = 0
while time.time() - t0 < 4.0:
    hashlib.sha256(blk).digest(); n += 1
print(n)
EOF
)
read -r _ u2 n2 s2 i2 w2 q2 sq2 st2 _ < /proc/stat
tot=$(( (u2-u1)+(n2-n1)+(s2-s1)+(i2-i1)+(w2-w1)+(q2-q1)+(sq2-sq1)+(st2-st1) ))
steal=$(( st2-st1 )); idle=$(( i2-i1 ))
python3 -c "
import sys
tot, steal, idle, iters, t0 = $tot, $steal, $idle, $iters, $t0
print('{\"probe\":\"bracket\",\"burn4s\":%d,\"steal_pct\":%.2f,\"idle_pct\":%.1f,\"epochMs\":%d}'
      % (iters, 100.0*steal/max(1,tot), 100.0*idle/max(1,tot), t0))
"
