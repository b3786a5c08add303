/* bigcache.c — LD_PRELOAD allocator shim that RETAINS large blocks.
 *
 * Why (spark_optimization_guide.md §5, measured in OPTIMIZATION_r06.md):
 * on virtualized many-core hosts, first-touch page faults are orders of
 * magnitude more expensive than on bare metal, and both the driver JVM
 * (Arrow/netty receive chunks, shuffle/compression buffers) and the
 * Python workers (pyarrow pools, numpy temporaries) allocate and free
 * the same multi-MB blocks on every query run.  glibc returns those
 * blocks to the OS (munmap / non-main-arena heap release, regardless of
 * MALLOC_TRIM_THRESHOLD_), so every run re-faults gigabytes.  Measured
 * at sf0.1: ~1.2M JVM faults per features_121 run, 10-45x wall-time
 * collapse in bad host weather.
 *
 * What: allocations >= BIG_MIN (512 KiB) are served from one
 * MAP_NORESERVE reservation (default 64 GiB of address space) carved
 * into power-of-two size classes with intrusive freelists.  Freed
 * blocks go back to their class list and are NEVER munmapped, so a
 * steady-state workload stops faulting entirely.  Power-of-two
 * rounding wastes only ADDRESS SPACE, not memory: pages past the
 * touched prefix are never faulted.  Smaller allocations fall through
 * to glibc unchanged.
 *
 * free()/realloc() route by address range (two compares, no metadata
 * lookup, no lock on the non-ours path).  One mutex guards the
 * freelists; large allocations are infrequent (thousands per second at
 * most), so contention is negligible.  pthread_atfork keeps the lock
 * usable in forked children (pyspark daemon -> worker forks).
 *
 * Env knobs: BIGCACHE_RESERVE_BYTES (default 64 GiB), BIGCACHE_MIN
 * (default 524288; rounded up to a power of two), BIGCACHE_DISABLE=1 to
 * become a transparent no-op.
 *
 * Build: gcc -O2 -shared -fPIC -o bigcache.so bigcache.c -lpthread
 */
#define _GNU_SOURCE
#include <dlfcn.h>
#include <errno.h>
#include <pthread.h>
#include <stdint.h>
#include <stdlib.h>
#include <string.h>
#include <sys/mman.h>
#include <unistd.h>

extern void *__libc_malloc(size_t);
extern void __libc_free(void *);
extern void *__libc_calloc(size_t, size_t);
extern void *__libc_realloc(void *, size_t);
extern void *__libc_memalign(size_t, size_t);
extern void *__libc_valloc(size_t);
size_t malloc_usable_size(void *);

#define HDR 64                  /* per-block header; keeps user ptr 64-aligned */
#define MAGIC 0xb16cac4eULL
#define NCLASS 20               /* 512K << 19 = 256 GiB max class, plenty */

typedef struct blk {
    struct blk *next;           /* freelist link (only while free) */
    size_t cls;                 /* size-class index */
    size_t magic;
} blk_t;

static char *g_base = NULL;
static char *g_top = NULL;      /* bump pointer */
static char *g_end = NULL;
static blk_t *g_free[NCLASS];
static size_t g_min = 524288;
static int g_disabled = 0;
static pthread_mutex_t g_mu = PTHREAD_MUTEX_INITIALIZER;
static pthread_once_t g_once = PTHREAD_ONCE_INIT;

static void bc_init(void)
{
    const char *e = getenv("BIGCACHE_DISABLE");
    if (e && e[0] == '1') { g_disabled = 1; return; }
    size_t reserve = 64ULL << 30;
    e = getenv("BIGCACHE_RESERVE_BYTES");
    if (e) {
        unsigned long long v = strtoull(e, NULL, 10);
        if (v >= (1ULL << 30)) reserve = v;
    }
    e = getenv("BIGCACHE_MIN");
    if (e) {
        unsigned long long v = strtoull(e, NULL, 10);
        if (v >= 65536 && v <= (1ULL << 40)) {
            /* class caps are g_min << cls and blocks are carved back to
               back from a page-aligned base, so only a power of two
               keeps every block (and its user pointer) 64-aligned */
            g_min = 65536;
            while (g_min < v) g_min <<= 1;
        }
    }
    void *p = mmap(NULL, reserve, PROT_READ | PROT_WRITE,
                   MAP_PRIVATE | MAP_ANONYMOUS | MAP_NORESERVE, -1, 0);
    if (p == MAP_FAILED) { g_disabled = 1; return; }
    /* With THP in madvise mode (this host's default), hinting the
       region makes first touches fault 2 MiB at a time instead of
       4 KiB — ~512x fewer faults while the freelists warm up.
       BIGCACHE_THP=0 opts out (e.g. if compaction stalls appear). */
    const char *thp = getenv("BIGCACHE_THP");
    if (!(thp && thp[0] == '0'))
        (void)madvise(p, reserve, MADV_HUGEPAGE);
    g_base = p;
    g_top = p;
    g_end = g_base + reserve;
}

static void bc_atfork_prepare(void) { pthread_mutex_lock(&g_mu); }
static void bc_atfork_parent(void)  { pthread_mutex_unlock(&g_mu); }
static void bc_atfork_child(void)
{
    /* fresh mutex in the child; freelists/bump state are inherited
       copy-on-write and stay valid (region is MAP_PRIVATE) */
    pthread_mutex_init(&g_mu, NULL);
}

__attribute__((constructor)) static void bc_ctor(void)
{
    pthread_once(&g_once, bc_init);
    pthread_atfork(bc_atfork_prepare, bc_atfork_parent, bc_atfork_child);
}

static inline int bc_mine(const void *p)
{
    return g_base != NULL
        && (const char *)p >= g_base + HDR
        && (const char *)p < g_end;
}

static inline size_t bc_class(size_t size)
{
    size_t cls = 0, cap = g_min;
    while (cap < size + HDR && cls < NCLASS - 1) { cap <<= 1; cls++; }
    return cls;
}

static inline size_t bc_cap(size_t cls) { return g_min << cls; }

static int g_trace = -1;

static void *bc_alloc(size_t size)
{
    if (size > SIZE_MAX - HDR) return NULL;     /* size + HDR would wrap */
    size_t cls = bc_class(size);
    size_t cap = bc_cap(cls);
    if (cap < size + HDR) return NULL;          /* absurdly large */
    pthread_mutex_lock(&g_mu);
    blk_t *b = g_free[cls];
    if (b != NULL) {
        g_free[cls] = b->next;
    } else {
        if (g_top + cap > g_end) {              /* reservation exhausted */
            pthread_mutex_unlock(&g_mu);
            return NULL;
        }
        b = (blk_t *)g_top;
        g_top += cap;
        if (g_trace == -1) {
            const char *t = getenv("BIGCACHE_TRACE");
            g_trace = (t && t[0] == '1') ? 1 : 0;
        }
        if (g_trace == 1) {
            char buf[128];
            int n = 0;
            long vals[4] = { (long)getpid(), (long)cls, (long)size,
                             (long)((g_top - g_base) >> 20) };
            const char *tags[4] = { "bigcache pid=", " cls=", " size=",
                                    " topMB=" };
            for (int i = 0; i < 4; i++) {
                for (const char *c = tags[i]; *c && n < 110; c++)
                    buf[n++] = *c;
                char d[24]; int k = 0; long v = vals[i];
                if (v == 0) d[k++] = '0';
                while (v > 0 && k < 20) { d[k++] = '0' + v % 10; v /= 10; }
                while (k > 0 && n < 120) buf[n++] = d[--k];
            }
            buf[n++] = '\n';
            ssize_t r = write(2, buf, n); (void)r;
        }
    }
    pthread_mutex_unlock(&g_mu);
    b->next = NULL;
    b->cls = cls;
    b->magic = MAGIC;
    return (char *)b + HDR;
}

static void bc_dealloc(void *p)
{
    blk_t *b = (blk_t *)((char *)p - HDR);
    if (b->magic != MAGIC) return;              /* corrupted; leak it */
    b->magic = 0;
    if (g_trace == 1) {
        char buf[64]; int n = 0;
        const char *tag = "bigcache-free pid=";
        for (const char *c = tag; *c; c++) buf[n++] = *c;
        char d[24]; int k = 0; long v = (long)getpid();
        if (v == 0) d[k++] = '0';
        while (v > 0) { d[k++] = '0' + v % 10; v /= 10; }
        while (k > 0) buf[n++] = d[--k];
        buf[n++] = ' '; buf[n++] = 'c' ;
        v = (long)b->cls; d[0] = '0' + (v % 10); buf[n++] = d[0];
        buf[n++] = '\n';
        ssize_t r = write(2, buf, n); (void)r;
    }
    pthread_mutex_lock(&g_mu);
    b->next = g_free[b->cls];
    g_free[b->cls] = b;
    pthread_mutex_unlock(&g_mu);
}

static inline size_t bc_size(const void *p)
{
    const blk_t *b = (const blk_t *)((const char *)p - HDR);
    return bc_cap(b->cls) - HDR;
}

void *malloc(size_t size)
{
    pthread_once(&g_once, bc_init);
    if (!g_disabled && size >= g_min) {
        void *p = bc_alloc(size);
        if (p) return p;
    }
    return __libc_malloc(size);
}

void free(void *p)
{
    if (p == NULL) return;
    if (bc_mine(p)) { bc_dealloc(p); return; }
    __libc_free(p);
}

void *calloc(size_t n, size_t sz)
{
    pthread_once(&g_once, bc_init);
    size_t total;
    if (__builtin_mul_overflow(n, sz, &total))
        { errno = ENOMEM; return NULL; }
    if (!g_disabled && total >= g_min) {
        void *p = bc_alloc(total);
        if (p) { memset(p, 0, total); return p; }
    }
    return __libc_calloc(n, sz);
}

void *realloc(void *p, size_t size)
{
    pthread_once(&g_once, bc_init);
    if (p == NULL) return malloc(size);
    if (size == 0) { free(p); return NULL; }
    if (bc_mine(p)) {
        size_t old = bc_size(p);
        if (size <= old) return p;              /* class still fits */
        void *q = malloc(size);
        if (q == NULL) return NULL;
        memcpy(q, p, old < size ? old : size);
        bc_dealloc(p);
        return q;
    }
    if (!g_disabled && size >= g_min) {
        /* migrate a growing glibc block into the cache; a usable size
           of 0 means it is unknown (dlsym failed), so glibc copies */
        size_t old = malloc_usable_size(p);
        void *q = old > 0 ? bc_alloc(size) : NULL;
        if (q != NULL) {
            memcpy(q, p, old < size ? old : size);
            __libc_free(p);
            return q;
        }
    }
    return __libc_realloc(p, size);
}

int posix_memalign(void **out, size_t align, size_t size)
{
    pthread_once(&g_once, bc_init);
    if (out == NULL || align < sizeof(void *) || (align & (align - 1)))
        return EINVAL;
    if (!g_disabled && size >= g_min && align <= HDR) {
        void *p = bc_alloc(size);               /* user ptr is 64-aligned */
        if (p) { *out = p; return 0; }
    }
    void *p = __libc_memalign(align, size);
    if (p == NULL) return ENOMEM;
    *out = p;
    return 0;
}

void *aligned_alloc(size_t align, size_t size)
{
    void *p = NULL;
    return posix_memalign(&p, align, size) == 0 ? p : NULL;
}

void *memalign(size_t align, size_t size)
{
    void *p = NULL;
    return posix_memalign(&p, align, size) == 0 ? p : NULL;
}

void *valloc(size_t size)
{
    pthread_once(&g_once, bc_init);
    return __libc_valloc(size);
}

size_t malloc_usable_size(void *p)
{
    if (p == NULL) return 0;
    if (bc_mine(p)) return bc_size(p);
    static size_t (*real)(void *) = NULL;
    if (real == NULL) {
        /* dlsym may allocate; our calloc/malloc fall through to glibc
           for small sizes, so there is no recursion hazard */
        real = (size_t (*)(void *))dlsym(RTLD_NEXT, "malloc_usable_size");
        if (real == NULL) return 0;             /* conservative */
    }
    return real(p);
}
